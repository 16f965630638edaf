"""Deterministic synthetic Common-Crawl-style pages corpus (FIXTURES.md §4).

Schema per BASELINE.json input_hint:
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

``html`` is a fixed template wrapping the text; ``extract_text`` is its
exact inverse, so the byte-identical-text-per-url invariant is testable
(SURVEY.md §4.3 #8). Domains are Zipf-skewed (top domain >= ~30% of rows)
to exercise salted repartitioning. Row classes cover every drop reason
plus keep-with-scrub and rounding-tie probes.
"""

from __future__ import annotations

import datetime as dt
import html as html_mod

import numpy as np
import pandas as pd

from metadata_quality_stack_spark.functions.langid import SEED_TEXT

HTML_PREFIX = "<html><head><title>page</title></head><body><main>"
HTML_SUFFIX = "</main></body></html>"

DOMAINS = [
    "big.example.com",  # Zipf head: ~35% of rows
    "medium.example.org",
    "blog.example.net",
    "shop.example.io",
    "news.example.co",
    "tiny1.example.dev",
    "tiny2.example.dev",
    "tiny3.example.dev",
]
DOMAIN_WEIGHTS = np.array([0.35, 0.2, 0.15, 0.1, 0.08, 0.05, 0.04, 0.03])

VOCAB = {lang: SEED_TEXT[lang].split() for lang in SEED_TEXT}
BASE_TS = dt.datetime(2024, 3, 1, 0, 0, 0)


def render_html(text: str, links: tuple[str, ...] = ()) -> bytes:
    """Fixed template; newline -> <br/>, entities escaped. Invertible:
    the optional outlink nav sits OUTSIDE <main>, so text extraction
    (which slices on the main element) is unaffected byte-for-byte."""
    body = html_mod.escape(text, quote=False).replace("\n", "<br/>")
    nav = ""
    if links:
        nav = "<nav>" + "".join(f'<a href="{u}">l</a>' for u in links) + "</nav>"
    return (HTML_PREFIX.replace("<main>", nav + "<main>") + body + HTML_SUFFIX).encode("utf-8")


def extract_text(html_bytes: bytes) -> str:
    """Pure deterministic inverse of render_html (byte-identical text)."""
    s = html_bytes.decode("utf-8")
    start = s.index("<main>") + len("<main>")
    end = s.rindex("</main>")
    body = s[start:end].replace("<br/>", "\n")
    return html_mod.unescape(body)


def extract_text_column(html_col):
    """Spark-native html -> text extraction: the distributed, byte-identical
    twin of :func:`extract_text` (input_hint invariant: byte-identical
    extracted text per url). Pure Column expressions — decode, substring
    slicing, literal replaces — so extraction runs inside whole-stage
    codegen, no Python.

    Inversion notes: '<' is always escaped inside the body, so the first
    '<main>' / '</main>' are the only ones (substring_index is safe); the
    entity unescape order ('&lt;'/'&gt;' before '&amp;') exactly inverts
    html.escape(quote=False), which escapes '&' first.
    """
    from pyspark.sql import functions as F

    s = F.decode(html_col, "UTF-8")
    body = F.substring_index(F.substring_index(s, "</main>", 1), "<main>", -1)
    body = F.replace(body, F.lit("<br/>"), F.lit("\n"))
    body = F.replace(body, F.lit("&lt;"), F.lit("<"))
    body = F.replace(body, F.lit("&gt;"), F.lit(">"))
    return F.replace(body, F.lit("&amp;"), F.lit("&"))


def _prose(rng: np.random.RandomState, lang: str, n_sentences: int) -> str:
    """Sentences of seed-vocab words, '.'-terminated, a few per line."""
    words = VOCAB[lang]
    lines: list[str] = []
    cur: list[str] = []
    for si in range(n_sentences):
        k = int(rng.randint(6, 14))
        ws = [words[int(i)] for i in rng.randint(0, len(words), k)]
        sent = " ".join(ws).capitalize() + "."
        cur.append(sent)
        if len(cur) >= int(rng.randint(2, 4)):
            lines.append(" ".join(cur))
            cur = []
    if cur:
        lines.append(" ".join(cur))
    return "\n".join(lines)


def _gibberish(rng: np.random.RandomState, n_words: int) -> str:
    alphabet = np.array(list("qwxzkvjpby"))
    words = []
    for _ in range(n_words):
        k = int(rng.randint(4, 11))
        words.append("".join(alphabet[rng.randint(0, len(alphabet), k)]))
    out = []
    for i in range(0, len(words), 12):
        out.append(" ".join(words[i : i + 12]) + ".")
    return "\n".join(out)


PII_SNIPPETS = [
    "contact us at a.b+tag@sub.example.co.uk for details.",
    "call +34 612 345 678 or (555) 123-4567 today.",
    "server at 192.168.1.1 and backup at 255.255.255.255 online.",
    "mail to info@example.com with id 612345678 now.",
]


def generate_pages(n_rows: int = 400, seed: int = 7) -> pd.DataFrame:
    """Deterministic corpus; class mix per FIXTURES.md §4 row classes."""
    rng = np.random.RandomState(seed)
    classes = [
        ("clean_en", 0.30),
        ("clean_other", 0.15),
        ("mislabeled", 0.10),  # true lang != labeled lang -> drop: langid_match
        ("gibberish", 0.10),  # drop: perplexity
        ("boilerplate", 0.08),  # drop: line_uniqueness
        ("short", 0.07),  # drop: word_count
        ("symbolic", 0.06),  # drop: symbol_ratio
        ("stuffing", 0.06),  # drop: stopword_density
        ("pii", 0.05),  # keep, scrub_count > 0
        ("tie_probe", 0.03),  # fractional points hitting .5 ties
    ]
    names = [c for c, _ in classes]
    probs = np.array([p for _, p in classes])
    probs = probs / probs.sum()
    rows = []
    other_langs = ["es", "de", "fr", "zh"]
    for i in range(n_rows):
        cls = names[int(rng.choice(len(names), p=probs))]
        lang = "en"
        if cls == "clean_en":
            text = _prose(rng, "en", int(rng.randint(8, 25)))
        elif cls == "clean_other":
            lang = other_langs[int(rng.randint(0, len(other_langs)))]
            text = _prose(rng, lang, int(rng.randint(8, 25)))
        elif cls == "mislabeled":
            true_lang = other_langs[int(rng.randint(0, len(other_langs)))]
            text = _prose(rng, true_lang, int(rng.randint(8, 25)))
            lang = "en"  # crawl label is wrong
        elif cls == "gibberish":
            text = _gibberish(rng, int(rng.randint(40, 120)))
        elif cls == "boilerplate":
            line = _prose(rng, "en", 1)
            text = "\n".join([line] * int(rng.randint(15, 40)))
        elif cls == "short":
            text = _prose(rng, "en", 1)
            text = " ".join(text.split()[: int(rng.randint(1, 15))])
        elif cls == "symbolic":
            base = _prose(rng, "en", 10).split()
            out = []
            for w in base:
                out.append(w)
                out.append("#" * int(rng.randint(1, 4)))
            text = " ".join(out)
        elif cls == "stuffing":
            content = [w for w in VOCAB["en"] if w not in {
                "the", "and", "of", "to", "in", "a", "at", "by", "his", "that",
                "with", "was", "would", "had", "over", "after", "about",
            }]
            ws = [content[int(j)] for j in rng.randint(0, len(content), int(rng.randint(60, 150)))]
            text = " ".join(ws) + "."
        elif cls == "pii":
            text = _prose(rng, "en", int(rng.randint(8, 20)))
            snips = [PII_SNIPPETS[int(j)] for j in rng.randint(0, len(PII_SNIPPETS), int(rng.randint(1, 4)))]
            text = text + "\n" + " ".join(snips)
        else:  # tie_probe: 4 lines, exactly 1 terminal-punct -> 12.5pt tie
            l1 = " ".join(VOCAB["en"][:25]) + "."
            l2 = " ".join(VOCAB["en"][25:50]) + " x"
            l3 = " ".join(VOCAB["en"][50:75]) + " y"
            l4 = " ".join(VOCAB["en"][10:35]) + " z"
            text = "\n".join([l1, l2, l3, l4])
        domain = DOMAINS[int(rng.choice(len(DOMAINS), p=DOMAIN_WEIGHTS))]
        url = f"https://{domain}/p/{i:06d}"
        ts = BASE_TS + dt.timedelta(minutes=int(i % (4 * 1440)))
        # deterministic outlinks to other domains (Zipf-weighted, like
        # real web linking) — rendered into the html nav, OUTSIDE main
        n_links = int(rng.randint(1, 4))
        links = tuple(
            f"https://{DOMAINS[int(rng.choice(len(DOMAINS), p=DOMAIN_WEIGHTS))]}"
            f"/p/{int(rng.randint(0, max(n_rows, 1))):06d}"
            for _ in range(n_links)
        )
        rows.append(
            {
                "url": url,
                "warc_ts": ts,
                "html": render_html(text, links),
                "text": text,
                "lang": lang,
                "row_class": cls,
            }
        )
    return pd.DataFrame(rows)


def pages_spark_df(spark, n_rows: int = 400, seed: int = 7):
    pdf = generate_pages(n_rows, seed).drop(columns=["row_class"])
    return spark.createDataFrame(pdf)


def read_pages_jsonl(spark, path: str):
    """Crawl-dump ingestion: JSONL pages with an EXPLICIT schema and
    corrupt-line quarantine. Schema inference on a 100 TB dump costs a
    full extra pass and may mistype sparse columns from a sample, so the
    pages schema (url, warc_ts, text, lang) is declared; PERMISSIVE mode
    + a ``_corrupt_record`` column means one mangled line degrades to a
    quarantine row instead of failing the shard (the crawl reality: dumps
    always contain truncated lines). Returns (good, quarantined) —
    ``good`` drops the quarantine column; the caller persists
    ``quarantined`` next to the metrics sidecar for lineage.

    The html payload travels base64-armored when present (JSON has no
    binary type); it is decoded here so downstream sees the same binary
    column the parquet path provides."""
    from pyspark.sql import functions as F

    schema = (
        "url string, warc_ts timestamp, html_b64 string, text string, "
        "lang string, _corrupt_record string"
    )
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        # Spark disallows querying ONLY the internal corrupt column from a
        # raw JSON scan (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_
        # COLUMN); caching the parsed frame is the documented contract —
        # and both sides of the split read it anyway, so the parse of
        # each shard runs once instead of twice.
        .cache()
    )
    good = (
        raw.filter(F.col("_corrupt_record").isNull())
        .withColumn("html", F.unbase64(F.col("html_b64")))
        .drop("_corrupt_record", "html_b64")
    )
    quarantined = raw.filter(F.col("_corrupt_record").isNotNull()).select(
        "_corrupt_record"
    )
    return good, quarantined


def extract_links_column(html_col):
    """Outlink hrefs from the nav block — the native href parse that
    feeds the domain graph on real page bytes (operators/graph.py).
    Empty array when the page has no nav. Codegen regexp over the
    decoded html; anchors inside <main> never match because '<' is
    escaped there (same invariant extract_text_column relies on)."""
    from pyspark.sql import functions as F

    s = F.decode(html_col, "UTF-8")
    nav = F.substring_index(F.substring_index(s, "</nav>", 1), "<nav>", -1)
    has_nav = F.contains(s, F.lit("<nav>"))
    return F.when(
        has_nav, F.regexp_extract_all(nav, F.lit('href="([^"]+)"'), 1)
    ).otherwise(F.array().cast("array<string>"))
