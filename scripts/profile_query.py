"""Profile one registered query: run it under the noop sink and dump
the Spark REST job/stage list (job count, per-job wall, stage task
time) so per-job scheduler overhead vs real compute is attributable.

Usage: python scripts/profile_query.py <query> [<query> ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import warm_session  # noqa: E402
from bigdatafinalproject_spark import registry  # noqa: E402
from bigdatafinalproject_spark.session import get_spark  # noqa: E402


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        app_name="bdfp-profile", extra_conf={"spark.ui.enabled": "true"}
    )
    sc = spark.sparkContext
    warm_session(spark, sf_dir)

    base = sc.uiWebUrl
    app = _get(f"{base}/api/v1/applications")[0]["id"]

    for name in names:
        jobs_before = {j["jobId"] for j in _get(f"{base}/api/v1/applications/{app}/jobs")}
        sc.setJobDescription(f"profile:{name}")
        t0 = time.perf_counter()
        df = registry.QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        sc.setJobDescription(None)
        jobs = [
            j
            for j in _get(f"{base}/api/v1/applications/{app}/jobs")
            if j["jobId"] not in jobs_before
        ]
        jobs.sort(key=lambda j: j["jobId"])
        tot_job_wall = 0.0
        rows = []
        for j in jobs:
            st = time.strptime(j["submissionTime"][:19], "%Y-%m-%dT%H:%M:%S")
            en = time.strptime(j["completionTime"][:19], "%Y-%m-%dT%H:%M:%S")
            dur = (
                time.mktime(en)
                - time.mktime(st)
                + (
                    int(j["completionTime"][20:23])
                    - int(j["submissionTime"][20:23])
                )
                / 1000.0
            )
            tot_job_wall += dur
            rows.append(
                (
                    j["jobId"],
                    round(dur, 3),
                    j["numTasks"],
                    (j.get("description") or j["name"])[:90],
                )
            )
        # per-stage executor CPU/run time
        stages = _get(f"{base}/api/v1/applications/{app}/stages?status=complete")
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        cpu = sum(
            s.get("executorCpuTime", 0)
            for s in stages
            if s["stageId"] in stage_ids
        ) / 1e9
        run = sum(
            s.get("executorRunTime", 0)
            for s in stages
            if s["stageId"] in stage_ids
        ) / 1e3
        print(f"\n=== {name}: wall {wall:.2f}s, {len(jobs)} jobs, "
              f"job-wall-sum {tot_job_wall:.2f}s, "
              f"executor run {run:.1f}s cpu {cpu:.1f}s ===")
        for r in rows:
            print(f"  job {r[0]:>4}  {r[1]:>7.3f}s  {r[2]:>4} tasks  {r[3]}")


if __name__ == "__main__":
    main()
