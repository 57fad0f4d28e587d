"""Isolated per-query probe for optimization work (guide §1): fresh
session, noop-sink timing reps + ``explain("formatted")`` capture.

Usage::

    python tools/probe_query.py [--sf DIR] [--reps N] [--explain PATH]
                                [--warm N] q252_bernoulli_sample_store [...]

Prints one line per query: min / median of the timed reps, and the
classes the warm runs and the timed reps compiled with their compile ms
(Spark's ``CodegenMetrics``; the reps of a repeated query should compile
none, see ``session.CODEGEN_CACHE_MAX_ENTRIES``). With
``--explain DIR`` writes ``DIR/<query>.txt`` containing the formatted
physical plan (the round's ``plans/r*/`` evidence files). Timing method
is bench.py's: ``df.write.format("noop").mode("overwrite").save()``,
`spark.catalog.clearCache()` before each query's rep block, min-of-N.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from soict20221_bigdata_financialplatform_spark.queries import QUERIES
from soict20221_bigdata_financialplatform_spark.session import get_spark


# Dropwizard's default histogram reservoir: it holds every compile time
# until the JVM has compiled this many classes, then starts sampling.
_RESERVOIR = 1028


def _codegen(spark) -> tuple[int, float]:
    """(classes compiled, their summed compile ms) in this JVM so far."""
    jvm = spark._jvm
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    values = jvm.java.util.Arrays.toString(hist.getSnapshot().getValues()).strip("[]")
    return hist.getCount(), float(sum(int(v) for v in values.split(",") if v))


def _compiled(spark, before: tuple[int, float]) -> str:
    count, ms = _codegen(spark)
    approx = "~" if count > _RESERVOIR else ""
    return f"{count - before[0]} ({approx}{ms - before[1]:.0f} ms)"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--warm", type=int, default=1,
                    help="untimed warm runs before the timed reps")
    ap.add_argument("--explain", default=None,
                    help="directory to write <query>.txt formatted plans")
    args = ap.parse_args()

    spark = get_spark("spark-finplat-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warmup

    for name in args.queries:
        fn = QUERIES[name]
        spark.catalog.clearCache()
        df = fn(spark, args.sf)
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as f:
                f.write(plan)

        def run():
            fn(spark, args.sf).write.format("noop").mode(
                "overwrite"
            ).save()

        spark.sparkContext.setJobDescription(f"probe:{name}")
        before = _codegen(spark)
        for _ in range(args.warm):
            run()
        warm_compiled = _compiled(spark, before)
        samples = []
        before = _codegen(spark)
        for _ in range(args.reps):
            t0 = time.time()
            run()
            samples.append(time.time() - t0)
        rep_compiled = _compiled(spark, before)
        spark.sparkContext.setJobDescription(None)
        print(
            f"{name}: min={min(samples):.3f} "
            f"median={statistics.median(samples):.3f} "
            f"all={[round(s, 3) for s in samples]} "
            f"compiled warm={warm_compiled} reps={rep_compiled}",
            flush=True,
        )


if __name__ == "__main__":
    main()
