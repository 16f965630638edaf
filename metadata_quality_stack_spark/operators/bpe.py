"""Byte-pair-encoding merge training — distributed tokenizer induction
(Sennrich, Haddow, Birch, "Neural Machine Translation of Rare Words
with Subword Units", ACL 2016; public method).

The classic BPE trainer never touches the corpus after one word census:

* **census** — the map-reduce wordcount: tokenize once, groupBy word.
  At 100 TB the census output is vocabulary-sized (10^7-10^8 rows of a
  few bytes), 4-6 orders of magnitude smaller than the corpus — ALL
  subsequent training rounds run on this table, so the expensive
  tokenize+shuffle happens exactly once.
* **per round** — adjacent symbol pairs of each word's current segment
  sequence, weighted by word count, in ONE groupBy whose map-side
  partial aggregation bounds the exchange at (distinct pairs) rows;
  the argmax pair is a 1-row TakeOrdered to the driver (the same
  bounded-driver-state pattern as ivf_train / dsir / classifier GD).
  Applying the merge is a map-only literal string replace on the
  vocab table.
* **application** — the final word -> segmentation map joins the corpus
  once (broadcastable whenever the vocab fits an executor; at open-web
  vocab sizes it is a few GB — still a broadcast on a healthy cluster,
  else a word-keyed shuffle join of fixed-width rows).

Merge application uses the delimiter trick: the sequence is stored
space-joined, the pair "a b" is replaced as ' a b ' -> ' ab ' inside a
space-padded copy. A single non-overlapping left-to-right replace can
miss every second occurrence of an overlapping chain (' a b a b '
shares the middle delimiter), so the replace runs TWICE: pass-1 misses
are separated by merged tokens afterwards and cannot overlap each
other, and a merge can never create a new occurrence of its own
pattern (the merged symbol contains no space). Two passes are
therefore exact — and `replace` is non-overlapping left-to-right in
both engines, so the DuckDB mirror replays training bit-for-bit with
the learned pair as a scalar subquery where Spark uses the collected
literal.

Words are lowercase ASCII runs ([a-z]+) — the alphabet stays disjoint
from the space delimiter by construction. No end-of-word marker is
appended (merges never cross word boundaries either way; documented
choice, same in both engines).

Reference parity note: the reference (mjanez/metadata-quality-stack)
has no tokenizer induction; this module is part of the beyond-reference
training-data family (token counting / fertility: textops.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from metadata_quality_stack_spark.sources.store import read_table

BPE_WORD_RE = "[a-z]+"
BPE_N_MERGES = 8
PACK_CONTEXT_TOKENS = 64
PACK_SHARDS = 8


def word_census(docs: DataFrame) -> DataFrame:
    """(word, cnt) over lowercase ASCII word runs — tokenize ONCE."""
    words = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_WORD_RE), 0)
        ).alias("word")
    )
    return words.groupBy("word").agg(F.count("*").alias("cnt"))


def _char_seq(word) -> F.Column:
    """Space-joined characters: 'hey' -> 'h e y' (regex twin of the
    DuckDB mirror: one capture-group replace, then trim)."""
    return F.btrim(F.regexp_replace(word, "(.)", "$1 "))


def _apply_merge(seq: F.Column, pair: str, merged: str) -> F.Column:
    """Exact BPE merge on a space-joined sequence: pad, replace twice
    (see module docstring for why two passes are exact), trim."""
    padded = F.concat(F.lit(" "), seq, F.lit(" "))
    find, repl = F.lit(f" {pair} "), F.lit(f" {merged} ")
    once = F.replace(padded, find, repl)
    return F.btrim(F.replace(once, find, repl))


def train_merges(
    docs: DataFrame, n_merges: int = BPE_N_MERGES
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges: [(pair, merged, total_count)]
    in merge order. Ties break on pair ASC (both engines). The census
    is persisted so the K rounds re-read a vocab-sized cache, never
    the corpus (the single-tokenization discipline the classifier
    trainer uses)."""
    census = word_census(docs).persist(StorageLevel.MEMORY_AND_DISK)
    census.count()
    try:
        vocab = census.select("word", "cnt", _char_seq(F.col("word")).alias("seq"))
        merges: list[tuple[str, str, int]] = []
        for _ in range(n_merges):
            toks = F.split(F.col("seq"), " ")
            n = F.size(toks)
            grams = F.zip_with(
                F.slice(toks, 1, n - 1),
                F.slice(toks, 2, n - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
            pairs = (
                vocab.filter(n >= 2)
                .select("cnt", F.explode(grams).alias("pair"))
                .groupBy("pair")
                .agg(F.sum("cnt").alias("total"))
                .orderBy(F.desc("total"), F.asc("pair"))
                .limit(1)
                .collect()
            )
            if not pairs:
                break
            pair = pairs[0]["pair"]
            merged = pair.replace(" ", "")
            merges.append((pair, merged, int(pairs[0]["total"])))
            vocab = vocab.select(
                "word", "cnt", _apply_merge(F.col("seq"), pair, merged).alias("seq")
            )
        return merges
    finally:
        census.unpersist()


def bpe_learned_merges(
    docs: DataFrame, n_merges: int = BPE_N_MERGES
) -> DataFrame:
    """Gate readout of the trained merge table: (rank, pair, merged,
    total) — rank is merge order (1-based)."""
    merges = train_merges(docs, n_merges)
    return docs.sparkSession.createDataFrame(
        [(i + 1, p, m, t) for i, (p, m, t) in enumerate(merges)],
        "rank int, pair string, merged string, total bigint",
    )


def segment_vocab(docs: DataFrame, merges: list[tuple[str, str, int]]) -> DataFrame:
    """(word, cnt, seq, n_pieces) after applying the learned merges —
    map-only over the census, K staged replace columns."""
    vocab = word_census(docs).select(
        "word", "cnt", _char_seq(F.col("word")).alias("seq")
    )
    for pair, merged, _ in merges:
        vocab = vocab.select(
            "word", "cnt", _apply_merge(F.col("seq"), pair, merged).alias("seq")
        )
    return vocab.select(
        "word", "cnt", "seq", F.size(F.split("seq", " ")).cast("long").alias("n_pieces")
    )


def bpe_tokenized_docs(docs: DataFrame, n_merges: int = BPE_N_MERGES) -> DataFrame:
    """Per-document subword counts under the corpus-trained tokenizer:
    (doc_id, n_words, n_subwords, n_chars_in_words). The corpus joins
    the segmentation map ONCE (broadcast-sized at gate scale; word-
    keyed join of fixed-width rows at 100 TB). Docs with no [a-z] runs
    keep a zero row (left join from the corpus side)."""
    merges = train_merges(docs, n_merges)
    seg = segment_vocab(docs, merges).select(
        "word", "n_pieces", F.length("word").cast("long").alias("wlen")
    )
    tok = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_WORD_RE), 0)
        ).alias("word"),
    )
    per = (
        tok.join(F.broadcast(seg), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_pieces").alias("n_subwords"),
            F.sum("wlen").alias("n_chars_in_words"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("n_subwords", F.lit(0)).alias("n_subwords"),
            F.coalesce("n_chars_in_words", F.lit(0)).alias("n_chars_in_words"),
        )
    )


# ----------------------------------------------------------------------
# DuckDB oracle mirrors — chained CTEs replaying every training round
# ----------------------------------------------------------------------
def _train_ctes(n_merges: int = BPE_N_MERGES) -> tuple[str, str]:
    """(ctes, final_seq_cte): census, seq0, then per round pairsR/bestR/
    seqR. bestR feeds seqR as scalar subqueries (coalesce to a chr(1)
    sentinel so an exhausted pair table makes the replace a no-op, the
    Spark early-stop twin)."""
    # every CTE is MATERIALIZED: bestR is referenced 4x by seqR and
    # DuckDB inlines plain CTEs per reference, which re-expands the
    # whole training chain exponentially (4^K census scans measured as
    # an fd exhaustion at K=8); materialization keeps the replay linear
    parts = [
        f"census AS MATERIALIZED (SELECT word, count(*) AS cnt FROM (SELECT unnest("
        f"regexp_extract_all(lower(text), '{BPE_WORD_RE}')) AS word "
        "FROM documents) GROUP BY word)",
        "seq0 AS MATERIALIZED (SELECT word, cnt, "
        "trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq FROM census)",
    ]
    for r in range(1, n_merges + 1):
        prev = f"seq{r - 1}"
        parts.append(
            f"""pairs{r} AS MATERIALIZED (
  SELECT pair, sum(cnt)::BIGINT AS total FROM (
    SELECT cnt, unnest(list_transform(
      generate_series(1, len(string_split(seq, ' ')) - 1),
      i -> string_split(seq, ' ')[i] || ' ' || string_split(seq, ' ')[i + 1]
    )) AS pair
    FROM {prev} WHERE len(string_split(seq, ' ')) >= 2)
  GROUP BY pair)"""
        )
        parts.append(
            f"best{r} AS MATERIALIZED (SELECT pair, replace(pair, ' ', '') AS merged, total "
            f"FROM pairs{r} ORDER BY total DESC, pair ASC LIMIT 1)"
        )
        find = f"coalesce((SELECT ' ' || pair || ' ' FROM best{r}), chr(1))"
        repl = f"coalesce((SELECT ' ' || merged || ' ' FROM best{r}), chr(1))"
        parts.append(
            f"seq{r} AS MATERIALIZED (SELECT word, cnt, trim(replace(replace("
            f"' ' || seq || ' ', {find}, {repl}), {find}, {repl})) AS seq "
            f"FROM {prev})"
        )
    return ",\n".join(parts), f"seq{n_merges}"


def bpe_learned_merges_sql(n_merges: int = BPE_N_MERGES) -> str:
    ctes, _ = _train_ctes(n_merges)
    sel = " UNION ALL ".join(
        f"SELECT {r} AS rank, pair, merged, total FROM best{r}"
        for r in range(1, n_merges + 1)
    )
    return f"WITH {ctes}\nSELECT * FROM ({sel})"


def bpe_tokenized_docs_sql(n_merges: int = BPE_N_MERGES) -> str:
    ctes, final = _train_ctes(n_merges)
    return f"""WITH {ctes},
seg AS (SELECT word, len(string_split(seq, ' '))::BIGINT AS n_pieces,
               length(word)::BIGINT AS wlen FROM {final}),
tok AS (SELECT doc_id, unnest(
          regexp_extract_all(lower(text), '{BPE_WORD_RE}')) AS word
        FROM documents),
per AS (SELECT t.doc_id, count(*) AS n_words,
               sum(s.n_pieces)::BIGINT AS n_subwords,
               sum(s.wlen)::BIGINT AS n_chars_in_words
        FROM tok t JOIN seg s USING (word) GROUP BY t.doc_id)
SELECT d.doc_id,
       coalesce(p.n_words, 0) AS n_words,
       coalesce(p.n_subwords, 0) AS n_subwords,
       coalesce(p.n_chars_in_words, 0) AS n_chars_in_words
FROM documents d LEFT JOIN per p USING (doc_id)
"""


def bpe_vocab_ids(docs: DataFrame, n_merges: int = BPE_N_MERGES) -> DataFrame:
    """The id-assigned subword vocabulary: (piece, token_id, n_words_using,
    total_occurrences). Ids are frequency-ranked (total occurrences desc,
    piece asc — deterministic both engines), the layout every trained
    tokenizer ships. Pieces come from the merged segmentations; their
    corpus frequency = sum over words of (occurrences in word) * word
    count."""
    from pyspark.sql import Window

    merges = train_merges(docs, n_merges)
    seg = segment_vocab(docs, merges)
    pieces = (
        seg.select("cnt", F.explode(F.split("seq", " ")).alias("piece"))
        .groupBy("piece")
        .agg(
            F.count("*").alias("n_words_using"),
            F.sum("cnt").alias("total_occurrences"),
        )
    )
    # Distributed dense rank (r5 — same order-preserving prefix-census
    # pattern as graph.domain_nodes, closing the last "revisit at scale"
    # window note): a production vocab can reach 10^5-10^6 pieces, so the
    # global (count DESC, piece ASC) rank must not funnel through ONE
    # row_number task. Pieces bucket by the integer bit-length of their
    # count (length(bin(c)) — exact, no libm), which is monotone in the
    # PRIMARY sort key, so buckets are contiguous slices of the global
    # order; a <=64-row census becomes cumulative offsets and token_id =
    # within-bucket row_number + broadcast offset — bit-identical to
    # row_number() OVER (ORDER BY cnt DESC, piece) with no global sort.
    # Zipf puts ~half the vocab in the count==1 bucket: that bucket is
    # one task — still vocab/2, never the corpus, and never ALL of it.
    ranked = pieces.withColumn(
        "bkt", (F.lit(64) - F.length(F.bin("total_occurrences"))).cast("int")
    )
    census = sorted(
        (r.bkt, r.c)
        for r in ranked.groupBy("bkt").agg(F.count("*").alias("c")).collect()
    )
    offsets, acc = [], 0
    for bkt, c in census:
        offsets.extend((bkt, acc))
        acc += c
    off = (
        F.element_at(
            F.create_map(*[F.lit(x) for x in offsets]), F.col("bkt")
        )
        if offsets
        else F.lit(0)
    )
    w = Window.partitionBy("bkt").orderBy(
        F.desc("total_occurrences"), F.asc("piece")
    )
    return ranked.select(
        "piece",
        (F.row_number().over(w) - 1 + off).cast("long").alias("token_id"),
        F.col("n_words_using").cast("long").alias("n_words_using"),
        F.col("total_occurrences").cast("long").alias("total_occurrences"),
    )


def bpe_encode_docs(docs: DataFrame, n_merges: int = BPE_N_MERGES) -> DataFrame:
    """Documents as token-id sequences — the terminal artifact of the
    data pipeline (what the training loader reads): (doc_id, n_tokens,
    token_ids) with token_ids a space-joined id string (dialect-stable
    serialization for the gate; parquet would store the int array).

    Plan: tokenize the corpus once, join each word to its segmentation
    (broadcast at gate scale), explode pieces POSITIONALLY, join the id
    table (broadcast — it IS the vocab), then re-assemble per doc in
    (word_pos, piece_pos) order. The only corpus-sized exchange carries
    (doc_id, positions, id) ints."""
    merges = train_merges(docs, n_merges)
    seg = segment_vocab(docs, merges).select("word", "seq")
    ids = bpe_vocab_ids(docs, n_merges).select("piece", "token_id")
    tok = docs.select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_WORD_RE), 0)
        ).alias("word_pos", "word"),
    )
    pieces = (
        tok.join(F.broadcast(seg), "word")
        .select(
            "doc_id",
            "word_pos",
            F.posexplode(F.split("seq", " ")).alias("piece_pos", "piece"),
        )
        .join(F.broadcast(ids), "piece")
    )
    per = pieces.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("word_pos", "piece_pos", "token_id")
                    )
                ),
                lambda s: s["token_id"].cast("string"),
            ),
            " ",
        ).alias("token_ids"),
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("token_ids", F.lit("")).alias("token_ids"),
        )
    )


def bpe_vocab_ids_sql() -> str:
    ctes, final = _train_ctes()
    return f"""WITH {ctes},
pieces AS (
  SELECT piece, count(*)::BIGINT AS n_words_using,
         sum(cnt)::BIGINT AS total_occurrences
  FROM (SELECT cnt, unnest(string_split(seq, ' ')) AS piece FROM {final})
  GROUP BY piece)
SELECT piece,
  (row_number() OVER (ORDER BY total_occurrences DESC, piece ASC) - 1)::BIGINT
    AS token_id,
  n_words_using, total_occurrences
FROM pieces
"""


def bpe_encode_docs_sql(n_merges: int = BPE_N_MERGES) -> str:
    ctes, final = _train_ctes(n_merges)
    return f"""WITH {ctes},
pieces AS MATERIALIZED (
  SELECT piece, count(*)::BIGINT AS n_words_using,
         sum(cnt)::BIGINT AS total_occurrences
  FROM (SELECT cnt, unnest(string_split(seq, ' ')) AS piece FROM {final})
  GROUP BY piece),
ids AS MATERIALIZED (
  SELECT piece,
    (row_number() OVER (ORDER BY total_occurrences DESC, piece ASC) - 1)::BIGINT
      AS token_id
  FROM pieces),
tok AS (
  SELECT doc_id, e.word AS word, e.pos AS word_pos FROM (
    SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)),
      i -> struct_pack(pos := i - 1, word := ws[i]))) AS e
    FROM (SELECT doc_id,
            regexp_extract_all(lower(text), '{BPE_WORD_RE}') AS ws
          FROM documents))),
segp AS MATERIALIZED (
  SELECT word, e.pos AS piece_pos, e.piece AS piece FROM (
    SELECT word, unnest(list_transform(generate_series(1, len(ps)),
      i -> struct_pack(pos := i - 1, piece := ps[i]))) AS e
    FROM (SELECT word, string_split(seq, ' ') AS ps FROM {final}))),
pc AS (
  SELECT t.doc_id, t.word_pos, s.piece_pos, i.token_id
  FROM tok t
  JOIN segp s ON s.word = t.word
  JOIN ids i ON i.piece = s.piece),
per AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens,
    string_agg(token_id::VARCHAR, ' '
               ORDER BY word_pos, piece_pos) AS token_ids
  FROM pc GROUP BY doc_id)
SELECT d.doc_id, coalesce(p.n_tokens, 0) AS n_tokens,
       coalesce(p.token_ids, '') AS token_ids
FROM documents d LEFT JOIN per p USING (doc_id)
"""


def _read_merge_log(spark, log_dir: str) -> list[tuple[str, str, int]]:
    """Logged merges in rank order; duplicate ranks (crash-retry
    appends) collapse harmlessly because rounds are deterministic —
    any row with a given rank carries the identical merge."""
    log = read_table(spark, log_dir)
    if log is None:
        return []
    by_rank: dict[int, tuple[str, str, int]] = {}
    for r in log.collect():
        by_rank.setdefault(int(r.rank), (r.pair, r.merged, int(r.total)))
    return [by_rank[k] for k in sorted(by_rank)]


def train_merges_resumable(
    docs: DataFrame,
    log_dir: str,
    n_merges: int = BPE_N_MERGES,
) -> list[tuple[str, str, int]]:
    """Checkpointed BPE training: each completed round appends one row
    (rank, pair, merged, total) to a parquet log; a restarted fit
    replays the logged merges onto the census (map-only staged
    replaces — no pair census for finished rounds) and continues from
    the next rank. Crash placement is safe everywhere: rounds are
    deterministic, so a retry of an un-logged round recomputes the
    identical merge, and a double-append of the same rank collapses on
    read. This is the trainer-side analog of the results sink's
    resume: at 10^7-word vocabs and thousands of merges, losing a fit
    to a preemption costs hours — the log costs one tiny parquet
    append per round."""
    spark = docs.sparkSession
    done = _read_merge_log(spark, log_dir)[:n_merges]
    census = word_census(docs).persist(StorageLevel.MEMORY_AND_DISK)
    census.count()
    try:
        vocab = census.select("word", "cnt", _char_seq(F.col("word")).alias("seq"))
        for pair, merged, _ in done:
            vocab = vocab.select(
                "word", "cnt", _apply_merge(F.col("seq"), pair, merged).alias("seq")
            )
        merges = list(done)
        while len(merges) < n_merges:
            toks = F.split(F.col("seq"), " ")
            n = F.size(toks)
            grams = F.zip_with(
                F.slice(toks, 1, n - 1),
                F.slice(toks, 2, n - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
            pairs = (
                vocab.filter(n >= 2)
                .select("cnt", F.explode(grams).alias("pair"))
                .groupBy("pair")
                .agg(F.sum("cnt").alias("total"))
                .orderBy(F.desc("total"), F.asc("pair"))
                .limit(1)
                .collect()
            )
            if not pairs:
                break
            pair = pairs[0]["pair"]
            merged = pair.replace(" ", "")
            total = int(pairs[0]["total"])
            spark.createDataFrame(
                [(len(merges) + 1, pair, merged, total)],
                "rank int, pair string, merged string, total bigint",
            ).coalesce(1).write.mode("append").parquet(log_dir)
            merges.append((pair, merged, total))
            vocab = vocab.select(
                "word", "cnt", _apply_merge(F.col("seq"), pair, merged).alias("seq")
            )
        return merges
    finally:
        census.unpersist()


def bpe_pack_sequences(
    docs: DataFrame,
    n_merges: int = BPE_N_MERGES,
    context_tokens: int = PACK_CONTEXT_TOKENS,
    n_shards: int = PACK_SHARDS,
) -> DataFrame:
    """Concat-and-slice packing in TOKEN space — the final step from raw
    pages to fixed-length training sequences (GPT-style loader layout:
    concatenate a shard's token streams in deterministic order, slice
    into ``context_tokens`` windows). Completes the in-engine chain
    html -> text -> BPE token ids -> training sequences; the char-space
    sibling is sampling.pack_chunks, but a loader consumes token
    offsets, and token counts come from the learned tokenizer, not
    byte lengths.

    Scale shape: packing is embarrassingly parallel per shard (shard =
    doc_id % n_shards — exactly how a multi-worker loader shards its
    input); ONE exchange on the shard key carrying (doc_id, n_tokens)
    ints, a running-sum window inside each shard, integer DIV for the
    sequence index (no float division anywhere). No global ordering, no
    corpus-sized state: the token-id strings themselves never enter the
    window exchange.

    Columns: shard, doc_id, n_tokens, start_offset [0-based token
    offset in the shard stream], seq_first / seq_last [first/last
    context-window index the doc's tokens land in; NULL for
    zero-token docs — they occupy no window]."""
    from pyspark.sql import Window

    enc = bpe_encode_docs(docs, n_merges).select(
        "doc_id", "n_tokens"
    )
    sharded = enc.withColumn(
        "shard", F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("long")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long")
    nonempty = F.col("n_tokens") > 0
    return sharded.select(
        "shard",
        "doc_id",
        "n_tokens",
        start.alias("start_offset"),
        F.when(
            nonempty, F.expr(f"start_offset DIV {context_tokens}")
        ).alias("seq_first"),
        F.when(
            nonempty,
            F.expr(f"(start_offset + n_tokens - 1) DIV {context_tokens}"),
        ).alias("seq_last"),
    )


def bpe_pack_sequences_sql() -> str:
    """DuckDB mirror of :func:`bpe_pack_sequences`: the ENTIRE encode
    replay (training rounds included) nests as one CTE body, then the
    same shard + running-sum + integer-division arithmetic."""
    enc = bpe_encode_docs_sql(BPE_N_MERGES)
    return f"""WITH enc AS ({enc}),
sharded AS (
  SELECT doc_id, n_tokens, (doc_id % {PACK_SHARDS})::BIGINT AS shard FROM enc),
off AS (
  SELECT shard, doc_id, n_tokens,
         (sum(n_tokens) OVER (
            PARTITION BY shard ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT AS start_offset
  FROM sharded)
SELECT shard, doc_id, n_tokens, start_offset,
  CASE WHEN n_tokens > 0
       THEN (start_offset // {PACK_CONTEXT_TOKENS})::BIGINT END AS seq_first,
  CASE WHEN n_tokens > 0
       THEN ((start_offset + n_tokens - 1) // {PACK_CONTEXT_TOKENS})::BIGINT
       END AS seq_last
FROM off
"""
