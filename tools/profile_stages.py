#!/usr/bin/env python
"""Per-stage profile of a declared query (VERDICT r9 #8): run it once
at --sf-dir with the Spark UI enabled, then read the UI REST API for
every stage's executorRunTime / shuffle bytes, and print the top
stages — so growth in a multi-stage pipeline is charged to the right
stage before anyone optimizes the wrong one.

Usage: python tools/profile_stages.py incremental_near_dup \
           [--sf-dir /root/testdata/sf0.1] [--top 10] [--json OUT.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--top", type=int, default=10)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--json", dest="json_out")
    ap.add_argument(
        "--warmup", action="store_true",
        help="run the query once untimed first so JIT/codegen warmth is "
        "not charged to the measured run's stages",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName(f"profile-{args.query}")
        .config("spark.sql.shuffle.partitions", str(max(int(args.cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4049")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    q = entry_mod.queries()[args.query]
    app_id = spark.sparkContext.applicationId
    base = f"http://localhost:4049/api/v1/applications/{app_id}"

    if args.warmup:
        # One throwaway execution first: a cold session charges JIT +
        # whole-stage-codegen compilation of every generated method to
        # the first stages that run them (measured ~70s of executor time
        # on a 32-core local session — round-10 lesson: a cold profile
        # mis-attributed 21% of a query to its first collect).  The
        # measured run then reflects steady-state costs, which is what
        # the bench's min-of-2 reports.
        q(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        # The REST API is fed by an async event queue: stages from the
        # warmup run may not yet be listed (or may have failed) right
        # after the action returns, and a status=complete filter would
        # miss them — charging warmup stages to the measured run
        # (ADVICE r10).  Poll unfiltered until the max stageId settles,
        # then exclude EVERYTHING at or below it.  An empty listing
        # (queue not yet drained) never counts as settled.
        max_seen = -1
        for _ in range(20):
            with urllib.request.urlopen(f"{base}/stages") as r:
                ids = [s["stageId"] for s in json.load(r)]
            m = max(ids) if ids else -1
            if m >= 0 and m == max_seen:
                break
            max_seen = m
            time.sleep(0.25)
        skip_below = max_seen
    else:
        skip_below = -1

    t0 = time.perf_counter()
    df = q(spark, args.sf_dir)
    df.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0

    with urllib.request.urlopen(f"{base}/stages?status=complete") as r:
        stages = [s for s in json.load(r) if s["stageId"] > skip_below]
    rows = [
        {
            "stage": s["stageId"],
            "name": s["name"].split("\n")[0][:90],
            "run_ms": s["executorRunTime"],
            "tasks": s["numCompleteTasks"],
            "in_mb": round(s.get("inputBytes", 0) / 1e6, 1),
            "shuf_r_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 1),
            "shuf_w_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
        }
        for s in stages
    ]
    rows.sort(key=lambda x: -x["run_ms"])
    total_ms = sum(r["run_ms"] for r in rows)
    print(f"{args.query} @ {args.sf_dir}: wall {wall:.2f}s, "
          f"{len(rows)} stages, executor-time total {total_ms/1000:.1f}s")
    for r in rows[: args.top]:
        pct = 100 * r["run_ms"] / max(total_ms, 1)
        print(f"  stage {r['stage']:>4}  {r['run_ms']:>8} ms ({pct:4.1f}%)  "
              f"tasks={r['tasks']:<3} in={r['in_mb']}MB "
              f"sr={r['shuf_r_mb']}MB sw={r['shuf_w_mb']}MB  {r['name']}")
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump(
                {"query": args.query, "sf_dir": args.sf_dir, "wall_sec": round(wall, 2),
                 "executor_total_ms": total_ms, "stages": rows},
                f, indent=2,
            )
        print(f"-> {args.json_out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
