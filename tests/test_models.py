"""Model scorer tests: determinism, language separation, perplexity
ordering (clean prose << gibberish)."""

import pandas as pd

from metadata_quality_stack_spark.functions.langid import SEED_TEXT, LangIdModel, get_model
from metadata_quality_stack_spark.functions.perplexity import PPL_EMPTY
from metadata_quality_stack_spark.functions.perplexity import get_model as get_ppl
from metadata_quality_stack_spark.sources.pages import _gibberish, _prose

import numpy as np


def test_langid_separates_languages():
    m = get_model()
    rng = np.random.RandomState(3)
    texts, labels = [], []
    for lang in SEED_TEXT:
        for _ in range(5):
            texts.append(_prose(rng, lang, 10))
            labels.append(lang)
    out = m.score_batch(pd.Series(texts))
    acc = (out["lang_pred"].values == np.array(labels)).mean()
    assert acc == 1.0, f"langid accuracy {acc}"
    assert (out["lang_conf"] >= 0).all() and (out["lang_conf"] <= 1).all()


def test_langid_deterministic():
    a = LangIdModel().score_batch(pd.Series(["the morning light was quiet"]))
    b = LangIdModel().score_batch(pd.Series(["the morning light was quiet"]))
    assert a.equals(b)


def test_perplexity_ordering():
    m = get_ppl()
    rng = np.random.RandomState(4)
    from metadata_quality_stack_spark.config import PERPLEXITY_MAX

    clean = m.perplexity(_prose(rng, "en", 12))
    gib = m.perplexity(_gibberish(rng, 60))
    assert clean < PERPLEXITY_MAX < gib
    assert m.perplexity("") == PPL_EMPTY
    assert m.perplexity(None) == PPL_EMPTY


def test_udf_matches_shared_scorer(spark):
    from metadata_quality_stack_spark.functions.langid import langid_udf
    from metadata_quality_stack_spark.plans.pipeline import model_scores_udf
    from pyspark.sql import functions as F

    rng = np.random.RandomState(5)
    texts = [_prose(rng, lang, 8) for lang in SEED_TEXT] + [_gibberish(rng, 30), ""]
    pdf = pd.DataFrame({"i": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf)
    got = (
        df.withColumn("lid", langid_udf()(F.col("text")))
        .withColumn("m", model_scores_udf()(F.col("text")))
        .select(
            "i",
            "lid.lang_pred",
            "lid.lang_conf",
            F.col("m.lang_pred").alias("m_lang_pred"),
            F.col("m.lang_conf").alias("m_lang_conf"),
            "m.ppl",
        )
        .toPandas()
        .sort_values("i")
        .reset_index(drop=True)
    )
    exp_lid = get_model().score_batch(pdf["text"])
    exp_ppl = get_ppl().score_batch(pdf["text"])
    assert list(got["lang_pred"]) == list(exp_lid["lang_pred"])
    assert list(got["lang_conf"]) == list(exp_lid["lang_conf"])
    assert list(got["m_lang_pred"]) == list(exp_lid["lang_pred"])
    assert list(got["m_lang_conf"]) == list(exp_lid["lang_conf"])
    assert list(got["ppl"]) == list(exp_ppl)


def _ppl_reference(model, texts: pd.Series) -> pd.Series:
    """The pre-factorize per-occurrence formulation, kept as the parity
    oracle for PerplexityModel.score_batch: tokenize each doc via
    _capped_tokens, crc every occurrence, same probability math."""
    import itertools

    from metadata_quality_stack_spark.functions.perplexity import (
        P_FLOOR,
        W_BI,
        W_FLOOR,
        W_UNI,
        _bi_idx_from_crc,
        _capped_tokens,
        _crc_flat,
        _uni_idx_from_crc,
    )

    tok_lists = [
        _capped_tokens(t) if isinstance(t, str) and t else [] for t in texts
    ]
    out = np.full(len(tok_lists), PPL_EMPTY, dtype=np.float64)
    lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists))
    nz = lens > 0
    if nz.any():
        flat = list(itertools.chain.from_iterable(t for t in tok_lists if t))
        seg_lens = lens[nz]
        starts = np.zeros(len(seg_lens), dtype=np.int64)
        np.cumsum(seg_lens[:-1], out=starts[1:])
        crc = _crc_flat(flat)
        pu = model.p_uni[_uni_idx_from_crc(crc)]
        pb = np.empty(len(flat), dtype=np.float64)
        if len(flat) > 1:
            pb[1:] = model.p_bi[_bi_idx_from_crc(crc)]
        pb[starts] = pu[starts]
        p = W_BI * pb + W_UNI * pu + W_FLOOR * P_FLOOR
        seg = np.add.reduceat(-np.log(p), starts)
        out[nz] = np.round(np.exp(seg / seg_lens), 4)
    return pd.Series(out, dtype="float64")


def test_ppl_factorize_parity():
    """The factorized (per-distinct-token) score_batch is bit-identical
    to the per-occurrence reference on a hostile corpus: empties, None,
    punct-only tokens, dup-heavy prose, gibberish, docs straddling the
    64 KiB prefix bound and the MAX_TOKENS cap."""
    from metadata_quality_stack_spark.functions.perplexity import (
        MAX_TOKENS,
        _SLICE_BOUND,
    )

    m = get_ppl()
    rng = np.random.RandomState(11)
    word = "supercalifragilistic"
    texts = [
        "",
        None,
        "... ... ...",                      # every token strips to empty
        "'' \"\" ()[] ,,,",                 # ditto, mixed punct
        _prose(rng, "en", 12),
        _gibberish(rng, 60),
        "one",                               # single token
        "cat cat cat dog",                  # dup-heavy
        # exactly at / around the cap
        " ".join(["tok"] * MAX_TOKENS),
        " ".join(["tok"] * (MAX_TOKENS + 1)),
        # long doc where the 64 KiB prefix yields > MAX_TOKENS tokens
        ("word " * (_SLICE_BOUND // 4)),
        # long doc whose prefix falls SHORT of the cap (huge tokens) —
        # exercises the exact full-text fallback
        " ".join([word * 40] * 120) + " tail",
        # long doc with punct-only tokens diluting the prefix
        ("... " * (_SLICE_BOUND // 3)) + _prose(rng, "en", 8),
        float("nan"),
    ]
    s = pd.Series(texts, dtype=object)
    got = m.score_batch(s)
    exp = _ppl_reference(m, s)
    assert list(got) == list(exp)  # exact, not approx


def test_pipeline_handles_megabyte_docs(spark):
    """Scale-robustness: multi-MB documents flow through the full pipeline
    (bounded tokenization in the scorers, O(n) native passes) and score
    identically to the shared-code pandas models."""
    from metadata_quality_stack_spark.plans.pipeline import quality_pipeline
    from pyspark.sql import functions as F  # noqa: F401

    big_en = ("the quick brown fox jumps over the lazy dog " * 25000)  # ~1.1 MB
    big_one_token = "x" * 1_000_000  # single megabyte token, no whitespace
    pdf = pd.DataFrame(
        {
            "url": ["u1", "u2", "u3"],
            "lang": ["en", "en", "en"],
            "text": [big_en, big_one_token, "a normal short document."],
        }
    )
    got = (
        quality_pipeline(spark.createDataFrame(pdf), id_cols=("url",), lang_col="lang")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    exp_lid = get_model().score_batch(pdf["text"])
    exp_ppl = get_ppl().score_batch(pdf["text"])
    assert list(got["lang_pred"]) == list(exp_lid["lang_pred"])
    assert list(got["ppl"]) == list(exp_ppl)
    assert got["total_score"].notna().all()
