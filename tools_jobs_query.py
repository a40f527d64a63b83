#!/usr/bin/env python
"""Per-job timeline for one warm pass of declared queries: job id,
submission->completion wall segment, stage count, task count and job
description — shows which jobs serialize and which overlap. A job
still running when the pass returns prints as "unfinished".
Usage: python tools_jobs_query.py q1 [q2 ...]
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from siskin_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark("siskin-jobs", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    def materialize(df):
        df.write.format("noop").mode("overwrite").save()

    qs = entry_mod.queries()
    store = spark._jsparkSession.sparkContext().statusStore()
    for name in args:
        fn = qs[name]
        for _ in range(3):
            materialize(fn(spark, sf_dir))
        spark._jvm.System.gc()
        sc.setJobGroup(f"jobs-{name}", name)
        t0 = time.perf_counter()
        materialize(fn(spark, sf_dir))
        t1 = time.perf_counter()
        sc.setJobGroup(None, None)
        jobs = store.jobsList(None)
        it = jobs.iterator()
        rows = []
        while it.hasNext():
            j = it.next()
            grp = j.jobGroup()
            if grp.isDefined() and grp.get() == f"jobs-{name}":
                sub = j.submissionTime().get().getTime()
                comp = (
                    j.completionTime().get().getTime()
                    if j.completionTime().isDefined()
                    else -1
                )
                rows.append(
                    (
                        j.jobId(),
                        sub,
                        comp,
                        j.stageIds().size(),
                        j.numTasks(),
                        j.description().get()
                        if j.description().isDefined()
                        else "",
                    )
                )
        rows.sort()
        if rows:
            base = rows[0][1]
            print(f"== {name}: wall {t1 - t0:.3f}s, {len(rows)} jobs")
            for jid, sub, comp, nstages, ntasks, desc in rows:
                span = (
                    "unfinished"
                    if comp == -1
                    else f"+{(comp - base) / 1000.0:7.3f}  ({(comp - sub) / 1000.0:6.3f}s)"
                )
                print(
                    f"  job {jid}: +{(sub - base) / 1000.0:7.3f} -> {span}  "
                    f"{nstages} stages, {ntasks} tasks  {desc}"
                )
    spark.stop()


if __name__ == "__main__":
    main()
