"""Regenerate ``expected.json``: the output digest of every benchmark query
over ``fixture/``.

    python3 perfbench/make_expected.py

Queries with a DuckDB oracle take their digest from the oracle SQL, so the
benchmark checks Spark against an independent engine. The one without
an oracle (``q_semantic_dedup``) is pinned to what the Spark code
produced when this file was written, and marked ``self-pinned``. Every oracled query is also run on Spark here, and the
script fails if the two engines disagree.
"""

from __future__ import annotations

import json
import sys

import common


def main() -> int:
    run = common.isolate("expected", 0)
    import queries
    from c_tran_data_pipeline_spark.oracle import duckdb_connect
    from c_tran_data_pipeline_spark.plans import all_queries

    registry = all_queries()
    spark = common.start_spark()
    out, bad = {}, []
    try:
        con = duckdb_connect(str(common.FIXTURE))
        for name in queries.OLAP + queries.CORPUS:
            spec = registry[name]
            spark.catalog.clearCache()
            df = spec.builder(spark, str(common.FIXTURE))
            rows = [tuple(r) for r in df.collect()]
            spark_digest = common.digest(list(df.columns), rows)
            if spec.oracle is None:
                out[name] = {"digest": spark_digest, "rows": len(rows), "source": "self-pinned"}
            else:
                cur = con.execute(spec.oracle)
                o_rows = cur.fetchall()
                o_digest = common.digest([d[0] for d in cur.description], o_rows)
                out[name] = {"digest": o_digest, "rows": len(o_rows), "source": "duckdb"}
                if o_digest != spark_digest:
                    bad.append(name)
            print(name, out[name]["source"], out[name]["rows"], "MISMATCH" if name in bad else "ok", flush=True)
    finally:
        common.stop_spark(spark)
        common.cleanup(run)
    common.EXPECTED.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    if bad:
        print("Spark and DuckDB disagree on:", ", ".join(bad), file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
