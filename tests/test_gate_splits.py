"""Each gate query that splits the corpus into batches or shards reads its
split from one module constant, in the Spark query and in the DuckDB
oracle alike: changing the constant moves both engines, and they still
agree row for row."""

import re

import duckdb
import pytest

import __spark_entry__ as entry
from metadata_quality_stack_spark.operators import dedup, hll
from metadata_quality_stack_spark.sources import fuzzy_index

SF = "/root/testdata/sf0.001"

# (module, constant, a value other than its own, the queries that read it)
SPLITS = [
    (dedup, "NEW_BATCH_MOD", 7, ["dedup_new_batch", "fuzzy_dedup_new_batch"]),
    (hll, "SHARD_MOD", 4, ["kmv_shard_merge", "hll_shard_merge"]),
    (fuzzy_index, "CYCLE_MOD", 5, ["fuzzy_index_probe"]),
]


def _rows(pdf):
    return sorted(map(tuple, pdf[sorted(pdf.columns)].astype(str).values.tolist()))


@pytest.mark.parametrize(
    "module, const, value, names", SPLITS, ids=[s[1] for s in SPLITS]
)
def test_split_constant_moves_spark_and_oracle(spark, monkeypatch, module, const, value, names):
    assert getattr(module, const) != value
    monkeypatch.setattr(module, const, value)
    qs, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    for name in names:
        df = qs[name](spark, SF)
        if name != "kmv_shard_merge":  # its oracle is the unsharded sketch
            assert f"doc_id % {value} " in oracles[name], name
        if module is hll:
            # merge-of-shards equals the whole whatever the shard count, so
            # the answer cannot show the split; the plan must hold one
            # filter per shard
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            shards = set(re.findall(rf"% {value}\)? = (\d+)\)", plan))
            assert shards == {str(i) for i in range(value)}, (name, plan)
        assert _rows(df.toPandas()) == _rows(con.execute(oracles[name]).df()), name
