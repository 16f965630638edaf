"""KenLM-style hashed n-gram perplexity scorer.

A hashed word unigram+bigram log-probability table trained
deterministically at import from the langid seed corpus (all languages,
so clean prose in any supported language scores low). Interpolated
estimate per token:

    p(w_i | w_{i-1}) = 0.70 * p_bigram + 0.25 * p_unigram + 0.05 * p_floor

    ppl(doc) = exp( mean_i( -ln p ) )        (empty doc -> PPL_EMPTY)

Token hashing is zlib.crc32 (C speed, version-stable); bigram buckets are
a numeric mix of the two unigram crc32 values (no per-pair string concat);
the probability math runs flat-batched numpy over ALL tokens of an Arrow
batch with one segmented reduce per doc — measured ~1.7x the per-doc-loop
formulation this replaced (the loop's cost was per-doc numpy call
overhead and bigram string building, not crc32 itself). Token-salad
gibberish hits the floor probability on most tokens and its perplexity
explodes — the 'drop: perplexity' row class. Spark reaches it through
the fused langid + perplexity UDF (plans.pipeline.model_scores_udf).
"""

from __future__ import annotations

from zlib import crc32

import numpy as np
import pandas as pd

from metadata_quality_stack_spark.functions.langid import SEED_TEXT

N_BUCKETS = 1 << 18
PPL_EMPTY = 1.0e9
P_FLOOR = 1.0 / (1 << 20)
W_BI, W_UNI, W_FLOOR = 0.70, 0.25, 0.05
MAX_TOKENS = 2000  # cap scoring work per doc

_EDGE_PUNCT = ".,!?;:\"'()[]"


def _tokenize(text: str) -> list[str]:
    toks = (t.strip(_EDGE_PUNCT) for t in str(text).lower().split())
    return [t for t in toks if t]


# Long-doc fast path: only the first MAX_TOKENS tokens are ever scored, so
# tokenizing a multi-MB document end-to-end is wasted work. Tokenize a
# char-bounded prefix first; if it yields STRICTLY MORE than MAX_TOKENS
# tokens, the first MAX_TOKENS came from complete (non-truncated) raw
# tokens and are exactly what full-text tokenization would produce —
# otherwise fall back to the full text. Values are identical by
# construction; the bound only changes work, never output.
_SLICE_BOUND = 65536


def _capped_tokens(text: str) -> list[str]:
    if len(text) > _SLICE_BOUND:
        toks = _tokenize(text[:_SLICE_BOUND])
        if len(toks) > MAX_TOKENS:
            return toks[:MAX_TOKENS]
    return _tokenize(text)[:MAX_TOKENS]


# bigram bucket = numeric mix of the two unigram crc32 values (uint64
# wraparound) — removes the per-pair string concat + encode + crc32 the
# loop formulation paid; crc32 < 2^32 so the mix covers the bucket space
_BI_MIX = np.uint64(0x9E3779B9)
_BI_SHIFT = np.uint64(31)
_NB = np.uint64(N_BUCKETS)


def _crc_flat(toks: list[str]) -> np.ndarray:
    """Full crc32 per token (uint64, one C call each) — ONE pass for the
    whole flat batch."""
    return np.fromiter(
        (crc32(t.encode("utf-8")) for t in toks), dtype=np.uint64, count=len(toks)
    )


def _uni_idx_from_crc(crc: np.ndarray) -> np.ndarray:
    return (crc % _NB).astype(np.int64)


def _bi_idx_from_crc(crc: np.ndarray) -> np.ndarray:
    """Bucket of each consecutive (prev, cur) pair; length len(crc)-1."""
    return ((crc[:-1] * _BI_SHIFT + crc[1:] * _BI_MIX) % _NB).astype(np.int64)


class PerplexityModel:
    def __init__(self) -> None:
        uni = np.zeros(N_BUCKETS, dtype=np.float64)
        bi = np.zeros(N_BUCKETS, dtype=np.float64)
        n_uni = 0
        n_bi = 0
        for text in SEED_TEXT.values():
            toks = _tokenize(text)
            crc = _crc_flat(toks)
            np.add.at(uni, _uni_idx_from_crc(crc), 1.0)
            if len(toks) > 1:
                np.add.at(bi, _bi_idx_from_crc(crc), 1.0)
            n_uni += len(toks)
            n_bi += max(len(toks) - 1, 0)
        alpha = 0.01
        self.p_uni = (uni + alpha) / (n_uni + alpha * N_BUCKETS)
        self.p_bi = (bi + alpha) / (n_bi + alpha * N_BUCKETS)

    def perplexity(self, text: str | None) -> float:
        """Single-doc convenience — same code path as score_batch."""
        return float(self.score_batch(pd.Series([text])).iloc[0])

    def score_batch(self, texts: pd.Series) -> pd.Series:
        """Flat-batch scoring with per-batch raw-token dedup.

        Stage 1 builds RAW (unstripped) token lists per doc with C-speed
        ``str.split``. Stage 2 ``pd.factorize``s the flat raw-token array
        so the per-token Python work — edge-punct strip + utf-8 encode +
        crc32 — runs once per DISTINCT raw token in the Arrow batch, not
        once per occurrence (web text is Zipfian; the stopword mass
        dedups away). Strip-to-empty drop and the MAX_TOKENS cap are
        applied as vectorized masks over the factorized codes. The
        probability math is unchanged and consumes the exact same crc
        sequence, so scores are bit-identical to the per-occurrence
        formulation (regression: tests/test_models.py parity test).

        Long docs tokenize a 64 KiB prefix first; if the prefix yields
        STRICTLY MORE than MAX_TOKENS kept tokens the first MAX_TOKENS
        are provably what full-text tokenization would produce (see
        _capped_tokens), otherwise the rare shortfall docs are re-split
        on the full text and the batch recomputes — exactness first,
        the fast path only changes work.

        Doc-boundary bigram positions are overwritten by the unigram
        backoff, so no pair masking is needed."""
        n = len(texts)
        out = np.full(n, PPL_EMPTY, dtype=np.float64)
        long_mask = np.fromiter(
            (isinstance(t, str) and len(t) > _SLICE_BOUND for t in texts),
            dtype=np.bool_,
            count=n,
        )
        raw_lists: list[list[str]] = [
            (t[:_SLICE_BOUND] if len(t) > _SLICE_BOUND else t).lower().split()
            if isinstance(t, str) and t
            else []
            for t in texts
        ]
        while True:
            raw_lens = np.fromiter(
                (len(r) for r in raw_lists), dtype=np.int64, count=n
            )
            total = int(raw_lens.sum())
            if total == 0:
                return pd.Series(out, dtype="float64")
            flat_raw = np.empty(total, dtype=object)
            pos = 0
            for r in raw_lists:
                if r:
                    flat_raw[pos : pos + len(r)] = r
                    pos += len(r)
            codes, uniques = pd.factorize(flat_raw)
            stripped_u = [t.strip(_EDGE_PUNCT) for t in uniques]
            keep_u = np.fromiter(
                (bool(s) for s in stripped_u), dtype=np.bool_, count=len(stripped_u)
            )
            crc_u = np.fromiter(
                (crc32(s.encode("utf-8")) for s in stripped_u),
                dtype=np.uint64,
                count=len(stripped_u),
            )
            keep = keep_u[codes]
            ck0 = np.zeros(total + 1, dtype=np.int64)
            np.cumsum(keep, out=ck0[1:])
            starts_raw = np.zeros(n, dtype=np.int64)
            np.cumsum(raw_lens[:-1], out=starts_raw[1:])
            kept_per_doc = ck0[starts_raw + raw_lens] - ck0[starts_raw]
            redo = long_mask & (kept_per_doc <= MAX_TOKENS)
            if not redo.any():
                break
            for i in np.nonzero(redo)[0]:
                raw_lists[int(i)] = texts.iat[int(i)].lower().split()
            long_mask &= ~redo
        # select: kept tokens whose 0-based rank within their doc < cap
        doc_of = np.repeat(np.arange(n), raw_lens)
        rank = ck0[:total] - ck0[starts_raw][doc_of]
        sel = keep & (rank < MAX_TOKENS)
        seg_lens_all = np.minimum(kept_per_doc, MAX_TOKENS)
        nz = seg_lens_all > 0
        if nz.any():
            crc = crc_u[codes[sel]]
            seg_lens = seg_lens_all[nz]
            starts = np.zeros(len(seg_lens), dtype=np.int64)
            np.cumsum(seg_lens[:-1], out=starts[1:])
            pu = self.p_uni[_uni_idx_from_crc(crc)]
            pb = np.empty(len(crc), dtype=np.float64)
            if len(crc) > 1:
                pb[1:] = self.p_bi[_bi_idx_from_crc(crc)]
            pb[starts] = pu[starts]  # doc-first tokens back off to unigram
            p = W_BI * pb + W_UNI * pu + W_FLOOR * P_FLOOR
            seg = np.add.reduceat(-np.log(p), starts)
            out[nz] = np.round(np.exp(seg / seg_lens), 4)
        return pd.Series(out, dtype="float64")


_MODEL: PerplexityModel | None = None


def get_model() -> PerplexityModel:
    global _MODEL
    if _MODEL is None:
        _MODEL = PerplexityModel()
    return _MODEL

