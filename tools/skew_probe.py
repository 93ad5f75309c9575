"""Stage-level SKEW probe (guide §2.5): runs the named queries in a
bench-identical session and reports, for each stage of the best rep's
jobs, the task-duration and shuffle-read-size quantiles (min / median /
max) from the live UI REST API. A max/median ratio above ~5-10x on a
multi-task stage is the guide's salt-worthiness bar.

Usage: python tools/skew_probe.py [sf_dir] q1 [q2 ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def rest(ui: str, path: str):
    with urllib.request.urlopen(f"{ui}/api/v1/{path}") as r:
        return json.loads(r.read())


def main() -> None:
    args = list(sys.argv[1:])
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    names = args

    import __spark_entry__ as entrymod
    from bench import bench_session, warm_up

    spark = bench_session("skew_probe", {"spark.ui.enabled": "true"})
    ui = spark.sparkContext.uiWebUrl
    qs = entrymod.queries()
    warm_up(spark, entrymod, sf_dir, [qs[nm] for nm in names])

    app = rest(ui, "applications")[0]["id"]
    for nm in names:
        fn = qs[nm]
        df = fn(spark, sf_dir)
        before = {j["jobId"] for j in rest(ui, f"applications/{app}/jobs")}
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        wall = time.perf_counter() - t0
        jobs = [
            j for j in rest(ui, f"applications/{app}/jobs")
            if j["jobId"] not in before
        ]
        sids = sorted({s for j in jobs for s in j["stageIds"]})
        print(f"== {nm}: wall={wall:.3f}s stages={len(sids)}")
        rows = []
        for sid in sids:
            try:
                st = rest(ui, f"applications/{app}/stages/{sid}")[0]
                if st["status"] not in ("COMPLETE", "FAILED"):
                    continue
                q = rest(
                    ui,
                    f"applications/{app}/stages/{sid}/"
                    f"{st['attemptId']}/taskSummary"
                    "?quantiles=0.0,0.5,1.0",
                )
                dur = q["executorRunTime"]
                srd = q.get("shuffleReadMetrics", {}).get(
                    "readBytes", [0, 0, 0]
                )
                rows.append((
                    sid, st["numCompleteTasks"],
                    dur[0] / 1e3, dur[1] / 1e3, dur[2] / 1e3,
                    srd[0] / 1024, srd[1] / 1024, srd[2] / 1024,
                ))
            except Exception as e:  # noqa: BLE001
                print(f"   stage {sid}: REST error {e}")
        rows.sort(key=lambda r: -r[4])
        for sid, n, dmn, dmd, dmx, smn, smd, smx in rows[:8]:
            ratio = dmx / dmd if dmd > 0 else float("inf")
            print(
                f"   stage {sid:5d} tasks={n:3d}"
                f" dur min/med/max={dmn:6.2f}/{dmd:6.2f}/{dmx:6.2f}s"
                f" (max/med={ratio:5.1f})"
                f" shRead KB min/med/max={smn:8.0f}/{smd:8.0f}/{smx:8.0f}"
            )
        sys.stdout.flush()


if __name__ == "__main__":
    main()
