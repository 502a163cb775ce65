"""Print `.explain("formatted")` of registry queries to stdout.

Usage:
    python tools/explain_query.py <query> [query ...]
    python tools/explain_query.py --all

Each plan is printed under a `== <query> ==` header, built over
$SPARK_GRAFT_SF_DIR (default: the sf0.01 test data). Per-query plan
shapes of the benchmark workloads are digested in the benchmark
sidecar (`plan_shapes`); this renders a full plan on demand.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from algoritmos_etl_spark.driver_queries import REGISTRY
    from algoritmos_etl_spark.session import get_spark

    if names == ["--all"]:
        names = list(REGISTRY)
    spark = get_spark("algoritmos-etl-explain")
    for name in names:
        df = REGISTRY[name].build(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        print(f"== {name} ==\n{plan}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
