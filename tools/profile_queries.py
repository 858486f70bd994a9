"""Per-query profiler for the optimization rounds.

For each named registry query:
  1. captures ``explain("formatted")`` to plans/<tag>/<name>_<suffix>.txt
  2. times plan-build and execution separately (build = calling the
     registry fn, which for iterative operators runs eager jobs via
     localCheckpoint/count; exec = the final .collect())
  3. counts what the build alone costs: the Spark jobs that finished
     while the registry fn ran (its job group, read through the status
     tracker) and the py4j commands the driver sent to the JVM (the
     gateway client's ``send_command`` is wrapped for the run; object
     deletes are not counted). A build that sends one command per
     literal shows up here even when it runs no job.
  4. snapshots the Spark REST API job list around the run and prints the
     top jobs by duration with their descriptions — the local-mode
     equivalent of reading the UI's Jobs tab (guide §1.1/§7.1)

Usage:
  python tools/profile_queries.py <tag> <suffix> name1,name2,...
  SPARK_GRAFT_SF_DIR picks the data dir (default sf0.1).

Writes plans under plans/<tag>/ and prints one summary block per query.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from big_data_computing__spark.session import get_session


def _api(spark, path):
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}{path}") as r:
        return json.load(r)


class Py4jCalls:
    """Counts the commands the driver sends to the JVM over py4j.

    Object deletes (py4j's memory commands) are left out: they are sent
    when Python's garbage collector frees JavaObjects of earlier builds,
    so they would land on whichever build runs at the time.
    """

    def __init__(self, spark) -> None:
        self.n = 0
        self._client = spark.sparkContext._gateway._gateway_client
        send = self._send = self._client.send_command

        def counted(command, *args, **kwargs):
            if not command.startswith("m\n"):
                self.n += 1
            return send(command, *args, **kwargs)

        # JavaObjects call send_command on this one client instance
        self._client.send_command = counted

    def close(self) -> None:
        """Stop counting."""
        self._client.send_command = self._send


def build_jobs(spark, group: str) -> int:
    """Jobs of ``group`` that have finished."""
    sc = spark.sparkContext
    # the status tracker is fed by the listener bus; drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    return sum(
        tracker.getJobInfo(j).status == "SUCCEEDED"
        for j in tracker.getJobIdsForGroup(group)
    )


def main() -> None:
    tag, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3].split(",")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    spark = get_session(app_name="bdc_profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    # warm codegen/JVM once
    qs["o1_topk_orders"](spark, sf_dir).collect()

    calls = Py4jCalls(spark)

    for name in names:
        jobs_before = {j["jobId"] for j in _api(spark, "/jobs")}
        group = f"profile-build:{name}"
        spark.sparkContext.setJobGroup(group, f"profile:{name}")
        calls_before = calls.n
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        t_build = time.time() - t0
        build_calls = calls.n - calls_before
        spark.sparkContext._jsc.clearJobGroup()
        n_build_jobs = build_jobs(spark, group)
        spark.sparkContext.setJobDescription(f"profile:{name}")
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        t1 = time.time()
        df.collect()
        t_exec = time.time() - t1
        # second run for a steady-state wall number (first run of a
        # fresh plan pays codegen)
        t2 = time.time()
        qs[name](spark, sf_dir).collect()
        t_total2 = time.time() - t2
        spark.sparkContext.setJobDescription(None)
        jobs = [j for j in _api(spark, "/jobs") if j["jobId"] not in jobs_before]
        durs = []
        for j in jobs:
            try:
                sub = time.strptime(j["submissionTime"][:19], "%Y-%m-%dT%H:%M:%S")
                comp = time.strptime(j["completionTime"][:19], "%Y-%m-%dT%H:%M:%S")
                ms = (time.mktime(comp) - time.mktime(sub)) * 1000
            except Exception:
                ms = -1
            durs.append((ms, j["jobId"], (j.get("description") or j.get("name", ""))[:90]))
        durs.sort(reverse=True)
        print(f"== {name}: build={t_build:.2f}s exec={t_exec:.2f}s "
              f"run2={t_total2:.2f}s jobs={len(jobs)} "
              f"build_jobs={n_build_jobs} build_py4j_calls={build_calls} "
              f"plan={os.path.join(outdir, name + '_' + suffix + '.txt')}")
        for ms, jid, desc in durs[:12]:
            print(f"   {ms/1000.0:7.2f}s  job {jid}  {desc}")
        sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
