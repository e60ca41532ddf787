"""Per-query measurement harness for the optimization rounds (guide §1).

For each named catalog query:
- writes ``.explain('formatted')`` to ``plans/<tag>/<name>_<suffix>.txt``
- optionally times N repetitions of the computation through the noop
  sink (guide §1.4: eager full-column materialization, no sink cost,
  no driver transfer) AND via ``.collect()`` (the bench's action), with
  ``setJobDescription`` labels so the UI stays readable.

Usage:
  python tools/profile_queries.py --queries q1_pricing_summary,d4_simhash \
      --tag r16 --suffix before --repeat 3 [--no-time] [--sf-dir DIR]
  python tools/profile_queries.py --headline --tag r16 --suffix before
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="")
    ap.add_argument("--headline", action="store_true")
    ap.add_argument("--tag", default="r16")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--no-time", action="store_true")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--json-out", default="")
    args = ap.parse_args()

    names = [n for n in args.queries.split(",") if n]
    if args.headline:
        names = HEADLINE + [n for n in names if n not in HEADLINE]

    from entwiner_spark import catalog
    from entwiner_spark.session import get_spark

    spark = get_spark("profile")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", args.tag)
    os.makedirs(out_dir, exist_ok=True)

    results: dict[str, dict] = {}
    for name in names:
        fn = catalog.QUERIES[name]
        df = fn(spark, args.sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, f"{name}_{args.suffix}.txt"), "w") as f:
            f.write(plan)
        rec: dict = {"exchanges": plan.count("Exchange"), "plan_file": f"plans/{args.tag}/{name}_{args.suffix}.txt"}
        if not args.no_time:
            # one untimed warm pass (bench hygiene), then repeat
            fn(spark, args.sf_dir).collect()
            noop, coll = [], []
            for i in range(args.repeat):
                spark.sparkContext.setJobDescription(f"{name} noop #{i}")
                d = fn(spark, args.sf_dir)
                t0 = time.time()
                d.write.format("noop").mode("overwrite").save()
                noop.append(round(time.time() - t0, 3))
                spark.sparkContext.setJobDescription(f"{name} collect #{i}")
                d = fn(spark, args.sf_dir)
                t0 = time.time()
                d.collect()
                coll.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            rec["noop_median"] = statistics.median(noop)
            rec["collect_median"] = statistics.median(coll)
            rec["noop_all"] = noop
            rec["collect_all"] = coll
        results[name] = rec
        print(name, json.dumps(rec))
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
