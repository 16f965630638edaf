"""Seeded inputs for the benchmark workloads.

Every table is built from ``sources.pages.generate_pages(n, seed)``; the
programs under test only ever see the parquet tables written from these
frames. The same seed always gives the same tables.

* ``pages``: the input_hint table ``(url, warc_ts, html, text, lang)``.
  ``n_unique`` generated pages are replicated; every replica gets its own
  url (a ``/r<k>`` path suffix), so url-keyed layers see distinct keys.
* ``corpus``: a ``documents``-schema table ``(doc_id, text, lang, source,
  n_chars)`` with stated shares of exact copies and near copies (one word
  of the copy replaced), ids drawn from a seeded permutation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from metadata_quality_stack_spark.sources.pages import generate_pages

# tail domain of sources.pages.DOMAINS (~3% of pages), blocked in `ingest`
BLOCKED_DOMAIN = "tiny3.example.dev"


def domain(url: pd.Series) -> pd.Series:
    return url.str.split("/", n=3).str[2]


def pages_table(seed: int, n_unique: int, replicas: int) -> pd.DataFrame:
    """``n_unique * replicas`` pages with distinct urls; keeps the
    generator's ``row_class`` column for the stats (never written)."""
    base = generate_pages(n_unique, seed=seed)
    reps = []
    for k in range(replicas):
        r = base.copy()
        r["url"] = r["url"] + f"/r{k}"
        reps.append(r)
    return pd.concat(reps, ignore_index=True)


def _near_copy(text: str, rng: np.random.RandomState) -> str:
    words = text.split(" ")
    i = int(rng.randint(0, len(words)))
    words[i] = "zq" + words[i]
    return " ".join(words)


def corpus_table(
    seed: int, n_unique: int, exact_share: float, near_share: float
) -> pd.DataFrame:
    """``n_unique`` generated docs plus ``exact_share * n_unique`` byte
    copies and ``near_share * n_unique`` one-word edits of randomly chosen
    originals. Keeps ``row_class`` and ``copy_of`` for the stats."""
    rng = np.random.RandomState(seed + 1)
    base = generate_pages(n_unique, seed=seed)
    base = pd.DataFrame(
        {
            "text": base["text"],
            "lang": base["lang"],
            "source": domain(base["url"]),
            "row_class": base["row_class"],
            "copy_of": "none",
        }
    )
    n_exact = int(round(exact_share * n_unique))
    n_near = int(round(near_share * n_unique))
    exact = base.iloc[rng.choice(n_unique, n_exact, replace=False)].copy()
    exact["copy_of"] = "exact"
    near = base.iloc[rng.choice(n_unique, n_near, replace=False)].copy()
    near["text"] = [_near_copy(t, rng) for t in near["text"]]
    near["copy_of"] = "near"
    out = pd.concat([base, exact, near], ignore_index=True)
    out.insert(0, "doc_id", rng.permutation(len(out)).astype("int64"))
    out["n_chars"] = out["text"].str.len().astype("int64")
    return out


def table_stats(df: pd.DataFrame, source: pd.Series) -> dict:
    """Docs, mean text length, duplicate share, domain skew and the
    generator's row-class mix."""
    n = len(df)
    dom = source.value_counts(normalize=True)
    stats = {
        "docs": n,
        "mean_text_chars": round(float(df["text"].str.len().mean()), 1),
        "exact_dup_share": round(1.0 - df["text"].nunique() / n, 4),
        "top_domain": dom.index[0],
        "top_domain_share": round(float(dom.iloc[0]), 4),
        "domains": int(len(dom)),
        "row_classes": {
            k: int(v) for k, v in df["row_class"].value_counts().sort_index().items()
        },
    }
    if "copy_of" in df.columns:
        stats["copies"] = {
            k: int(v) for k, v in df["copy_of"].value_counts().sort_index().items()
        }
    return stats
