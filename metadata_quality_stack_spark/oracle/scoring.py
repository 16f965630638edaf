"""Pure-Python/pandas oracle for the full quality pipeline (SURVEY.md §5.2
item 1): row-at-a-time reimplementation of the scoring semantics —
independent of Spark for all native rules (python `re` + str ops), sharing
only the model scorers (langid/perplexity), whose batch functions are the
definition of those models.

Produces the "reference labels" for the keep/drop F1 >= 0.99 check and
the byte-exact scrubbed-text check.
"""

from __future__ import annotations

import math
import re

import pandas as pd

from metadata_quality_stack_spark import config
from metadata_quality_stack_spark.functions import langid as _langid
from metadata_quality_stack_spark.functions import perplexity as _ppl
from metadata_quality_stack_spark.functions.text import token_array_py

_EMAIL_RE = re.compile(config.PII_EMAIL)
_PHONE_RE = re.compile(config.PII_PHONE)
_IP_RE = re.compile(config.PII_IP)
_PII_RE = {"email": _EMAIL_RE, "phone": _PHONE_RE, "ip": _IP_RE}


def half_even_int(x: float) -> int:
    """Same floor-based HALF_EVEN formula as rules.half_even_int."""
    fl = math.floor(x)
    if x - fl == 0.5:
        return int(fl + (int(fl) % 2))
    return int(math.floor(x + 0.5))


_RE_NONEMPTY_LINE = re.compile(r"(?m)^ *[^ \n]")
_RE_TERMINAL_PUNCT = re.compile(r"(?m)[.!?\"'] *$")
_RE_ELLIPSIS_EOL = re.compile(r"(?m)\.\.\. *$")
_RE_BULLET_BOL = re.compile(r"(?m)^ *[-*•]")


def _features(text: str) -> dict:
    toks = token_array_py(text)
    lows = set(token_array_py(text.lower()))
    raw_lines = text.split("\n")
    sw = set(config.STOPWORDS_EN)
    low_text = text.lower()
    n_ws = sum(1 for c in text if c in " \t\n\r")
    return {
        "n_words": len(toks),
        "n_chars_txt": len(text),
        "n_lines": len(_RE_NONEMPTY_LINE.findall(text)),
        "sum_word_len": len(text) - n_ws,
        "n_alpha": sum(1 for c in text if ("a" <= c <= "z" or "A" <= c <= "Z")),
        "n_digit": sum(1 for c in text if "0" <= c <= "9"),
        "n_ascii": sum(1 for c in text if "\x20" <= c <= "\x7e" or c in "\t\n\r"),
        "n_ws": n_ws,
        "n_symbols": text.count("#") + _count_nonoverlap(text, "..."),
        "n_raw_lines": len(raw_lines),
        "n_distinct_raw_lines": len(set(raw_lines)),
        "n_distinct_words": len(lows),
        "n_stop_distinct": len(lows & sw),
        "n_terminal_punct_lines": len(_RE_TERMINAL_PUNCT.findall(text)),
        "n_ellipsis_lines": len(_RE_ELLIPSIS_EOL.findall(text)),
        "n_bullet_lines": len(_RE_BULLET_BOL.findall(text)),
        "has_boilerplate": any(p in low_text for p in config.BOILERPLATE_PHRASES),
        "has_email": bool(_EMAIL_RE.search(text)),
        "has_phone": bool(_PHONE_RE.search(text)),
        "has_ip": bool(_IP_RE.search(text)),
    }


def _count_nonoverlap(text: str, sub: str) -> int:
    return (len(text) - len(text.replace(sub, ""))) // len(sub)


def _safe_div(n: float, d: float) -> float:
    return float(n) / float(d) if d else 0.0


ABSENT = object()  # column not supplied -> presence rules pass vacuously
# (mirrors rules.native_rule_percentages where meta.get(...) is None)


def _native_pcts(f: dict, lang, source, n_chars) -> dict[str, float]:
    c = config
    wc, nch, nln = f["n_words"], f["n_chars_txt"], f["n_lines"]

    def b(cond: bool) -> float:
        return 1.0 if cond else 0.0

    def present(v) -> float:
        if v is ABSENT:
            return 1.0
        return b(v is not None and not (isinstance(v, float) and pd.isna(v)) and str(v) != "")

    return {
        "word_count": b(c.MIN_WORDS <= wc <= c.MAX_WORDS),
        "mean_word_length": b(
            wc > 0 and c.MIN_MEAN_WORD_LEN <= f["sum_word_len"] / wc <= c.MAX_MEAN_WORD_LEN
        ),
        "alpha_ratio": _safe_div(f["n_alpha"], nch),
        "ascii_ratio": _safe_div(f["n_ascii"], nch),
        "line_uniqueness": _safe_div(f["n_distinct_raw_lines"], f["n_raw_lines"]),
        "terminal_punct": _safe_div(f["n_terminal_punct_lines"], nln),
        "ellipsis_free": _safe_div(nln - f["n_ellipsis_lines"], nln),
        "boilerplate_free": b(not f["has_boilerplate"]),
        "stopword_density": b(
            f["n_distinct_words"] > 0
            and f["n_stop_distinct"] / f["n_distinct_words"] >= c.MIN_STOPWORD_DENSITY
        ),
        "stopword_distinct": b(f["n_stop_distinct"] >= c.MIN_DISTINCT_STOPWORDS),
        "symbol_ratio": b(wc > 0 and f["n_symbols"] / wc <= c.MAX_SYMBOL_WORD_RATIO),
        "bullet_free": _safe_div(nln - f["n_bullet_lines"], nln),
        "word_diversity": _safe_div(f["n_distinct_words"], wc),
        "digit_ratio": b(nch > 0 and f["n_digit"] / nch <= c.MAX_DIGIT_RATIO),
        "pii_email_free": b(not f["has_email"]),
        "pii_phone_free": b(not f["has_phone"]),
        "whitespace_ratio": b(nch > 0 and f["n_ws"] / nch <= c.MAX_WHITESPACE_RATIO),
        "pii_ip_free": b(not f["has_ip"]),
        "chars_consistent": 1.0 if n_chars is ABSENT else b(n_chars == nch),
        "lang_present": present(lang),
        "source_present": present(source),
        "avg_line_len": b(nln > 0 and nch / nln <= c.MAX_AVG_LINE_LEN),
    }


def scrub_text(text: str) -> tuple[str, dict[str, int]]:
    """Chained scrub, identical order/patterns to functions/scrub.py."""
    counts: dict[str, int] = {}
    cur = text
    for kind in config.SCRUB_ORDER:
        pattern, token = config.PII_REPLACEMENTS[kind]
        rx = _PII_RE[kind]
        counts[kind] = len(rx.findall(cur)) if rx.groups == 0 else len(
            list(rx.finditer(cur))
        )
        cur = rx.sub(token, cur)
        _ = pattern
    return cur, counts


def score_pandas(
    pdf: pd.DataFrame,
    text_col: str = "text",
    lang_col: str | None = "lang",
    source_col: str | None = None,
    n_chars_col: str | None = None,
    profile: str = "webtext",
) -> pd.DataFrame:
    """Oracle scoring of a pandas frame; returns the label columns."""
    rules = config.RULES_BY_PROFILE[profile]
    rule_ids = {r["id"] for r in rules}
    use_models = any(r["kind"] == "model" for r in rules)

    if use_models:
        lid = _langid.get_model().score_batch(pdf[text_col])
        ppls = _ppl.get_model().score_batch(pdf[text_col])
    out_rows = []
    for i, row in enumerate(pdf.itertuples(index=False)):
        text = getattr(row, text_col) or ""
        lang = getattr(row, lang_col) if lang_col else ABSENT
        source = getattr(row, source_col) if source_col else ABSENT
        n_chars = getattr(row, n_chars_col) if n_chars_col else ABSENT
        f = _features(text)
        pcts = _native_pcts(f, lang, source, n_chars)
        rec: dict = {}
        if use_models:
            pred = lid["lang_pred"].iloc[i]
            conf = float(lid["lang_conf"].iloc[i])
            ppl = float(ppls.iloc[i])
            lang_ok = lang is not None and not (
                isinstance(lang, float) and pd.isna(lang)
            )
            pcts["langid_match"] = 1.0 if (lang_ok and pred == lang) else 0.0
            pcts["langid_confidence"] = min(max(conf, 0.0), 1.0)
            pcts["perplexity_ok"] = 1.0 if ppl <= config.PERPLEXITY_MAX else 0.0
            rec.update({"lang_pred": pred, "lang_conf": conf, "ppl": ppl})

        dim_sum: dict[str, float] = {}
        for r in rules:
            pts = pcts[r["id"]] * float(r["weight"])
            dim_sum[r["dimension"]] = dim_sum.get(r["dimension"], 0.0) + pts
        total = 0
        for d in config.DIMENSIONS:
            ds = half_even_int(dim_sum.get(d, 0.0))
            rec[d] = ds
            total += ds
        t = config.thresholds_for(profile)
        rating = (
            "Excellent"
            if total >= t["excellent"]
            else "Good"
            if total >= t["good"]
            else "Sufficient"
            if total >= t["sufficient"]
            else "Bad"
        )
        hard_ok = all(
            pcts[rid] >= 0.5 for rid in config.HARD_RULES if rid in rule_ids
        )
        scrubbed, counts = scrub_text(text)
        rec.update(
            {
                "total_score": total,
                "rating": rating,
                "keep": bool(total >= t["sufficient"] and hard_ok),
                "drop_reasons": [r["id"] for r in rules if pcts[r["id"]] < 0.5],
                "scrubbed_text": scrubbed,
                "scrub_count": sum(counts.values()),
                "scrub_email_count": counts["email"],
                "scrub_ip_count": counts["ip"],
                "scrub_phone_count": counts["phone"],
            }
        )
        out_rows.append(rec)
    return pd.DataFrame(out_rows)
