"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same sf dir, then compares row count, column names, and values.

Queries with no DuckDB oracle but a registered BATCH TWIN (the streaming
near-dup dedups — DuckDB lacks xxhash64, so the oracle is the engine's own
batch operator, bit-equal by construction) are hash-compared against the
twin inside the sweep (VERDICT r12 #6) instead of reporting rows-only.
The driver's own JSON still records them as no_oracle — that column is
driver-owned; THIS sweep is where their parity signal lives.

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from flink_notebooks_spark.testing import compare, duck_con  # noqa: E402


def _parity_twins() -> dict:
    """name → callable(spark, sf_dir) -> DataFrame producing the batch twin
    a no-oracle streaming entry must equal EXACTLY (same comparison the
    pytest parity pins use: tests/test_llm_ops.py
    test_streaming_dedup_{minhash,embedding}_matches_batch)."""
    from pyspark.sql import functions as F

    from flink_notebooks_spark.queries import QUERIES
    from flink_notebooks_spark.queries.llm import cluster_pairs_lsh_df

    def minhash(spark, sf):
        return QUERIES["dedup_minhash_lsh"](spark, sf)

    def embedding(spark, sf):
        return (
            cluster_pairs_lsh_df(spark, sf)
            .select("a", "b", F.round("sim", 6).alias("sim"))
            .orderBy("a", "b")
        )

    # the TTL forms share their twins: the staged replay fits inside one
    # TTL window (tests/test_streaming3.py
    # test_ttl_and_exact_dedup_agree_on_bounded_replay)
    return {
        "streaming_dedup_minhash": minhash,
        "streaming_dedup_minhash_ttl": minhash,
        "streaming_dedup_embedding": embedding,
        "streaming_dedup_embedding_ttl": embedding,
    }


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from flink_notebooks_spark.queries import ORACLE, QUERIES
    from flink_notebooks_spark.session import get_spark

    spark = get_spark("verify-local")
    con = duck_con(sf_dir)

    passed, failed, nooracle = [], [], []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL {name}: spark error: {str(e)[:500]}")
            continue
        if name not in ORACLE:
            twin = _parity_twins().get(name)
            if twin is not None:
                try:
                    tdf = twin(spark, sf_dir).toPandas()
                except Exception as e:  # noqa: BLE001
                    failed.append(name)
                    print(f"FAIL {name}: batch-twin error: {str(e)[:500]}")
                    continue
                problems = compare(sdf, tdf)
                if problems:
                    failed.append(name)
                    print(
                        f"FAIL {name} ({len(sdf)} rows vs batch twin) "
                        f"[{time.time() - t0:.1f}s]"
                    )
                    for p in problems:
                        print(f"     {p}")
                else:
                    passed.append(name)
                    print(
                        f"PARITY-PASS {name} ({len(sdf)} rows == batch twin) "
                        f"[{time.time() - t0:.1f}s]"
                    )
                continue
            nooracle.append(name)
            print(f"ROWS {name}: {len(sdf)} rows (no oracle) [{time.time() - t0:.1f}s]")
            continue
        try:
            odf = con.sql(ORACLE[name]).df()
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL {name}: duckdb error: {str(e)[:500]}")
            continue
        problems = compare(sdf, odf)
        if problems:
            failed.append(name)
            print(f"FAIL {name} ({len(sdf)} rows) [{time.time() - t0:.1f}s]")
            for p in problems:
                print(f"     {p}")
        else:
            passed.append(name)
            print(f"PASS {name} ({len(sdf)} rows) [{time.time() - t0:.1f}s]")

    print(
        f"\n{len(passed)} passed, {len(failed)} failed, {len(nooracle)} rows-only "
        f"of {len(passed) + len(failed) + len(nooracle)} run"
    )
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
