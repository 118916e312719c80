"""The package's one keyed-state layer (operators/shard_state.py): no other
module calls Spark's keyed-state API, and a state function whose tuples do
not match its declared state schema fails on the per-key and on the
shard-keyed path alike."""

from __future__ import annotations

import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from flink_notebooks_spark.operators.shard_state import apply_keyed_state

PKG = Path(__file__).resolve().parent.parent / "flink_notebooks_spark"


def test_only_the_layer_names_spark_keyed_state():
    layer = PKG / "operators" / "shard_state.py"
    found = [
        f"{path.relative_to(PKG)}:{no}"
        for path in sorted(PKG.rglob("*.py"))
        if path != layer
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if "applyInPandasWithState" in line or "GroupStateTimeout" in line
    ]
    assert found == []


def _counting_fn(n_fields):
    """A per-key running count that writes ``n_fields`` copies of it to
    state (cloudpickled by value: the workers need no test module)."""

    def count(key, pdfs, state):
        import pandas as pd

        n = (state.get[0] if state.exists else 0) + sum(len(p) for p in pdfs)
        state.update((n,) * n_fields)
        yield pd.DataFrame({"k": [key[0]], "n": [n]})

    return count


def _run(spark, src, fn, shards):
    df = apply_keyed_state(
        spark.readStream.schema("k long, v long").parquet(src),
        ["k"],
        fn,
        "k long, n long",
        "n long",
        "update",
        "none",
        shards=shards,
    )
    name = "keyed_layer_" + uuid.uuid4().hex[:8]
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        return sorted(tuple(r) for r in spark.table(name).collect())
    finally:
        spark.catalog.dropTempView(name)


@pytest.mark.parametrize("shards", [None, 2], ids=["per_key", "sharded"])
def test_state_tuple_must_match_the_schema(spark, tmp_path, shards):
    from pyspark.errors import StreamingQueryException

    pq.write_table(
        pa.table({"k": [1, 1, 2, 3], "v": [10, 11, 20, 30]}),
        str(tmp_path / "part.parquet"),
    )
    src = str(tmp_path)
    assert _run(spark, src, _counting_fn(1), shards) == [(1, 2), (2, 1), (3, 1)]
    with pytest.raises(StreamingQueryException) as err:
        _run(spark, src, _counting_fn(2), shards)
    if shards is not None:
        assert "state tuple has 2 fields, the state schema 1" in str(err.value)
