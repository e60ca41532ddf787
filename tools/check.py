"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 on Spark AND its
``oracle_sql()`` twin on DuckDB, then compares row count, sorted column
names, and an order-insensitive value hash.  Use ``--only name`` to
debug a single query; ``--sf-dir`` to change scale.

``--times PATH`` records a per-query timing artifact (spark seconds =
plan build + collect, duck seconds, rows, status, plus loadavg marks)
so single-query regressions are visible without the 16-query bench
sampling them; ``--times-baseline PATH`` compares against a previous
artifact and FLAGS any query slower than 3x its prior spark time.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import sys
import time
from datetime import datetime

import duckdb

# the checkout this script lives in, for the driver AND for the Python
# UDF workers Spark starts (they import entwiner_spark through
# PYTHONPATH, not through this process's sys.path)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, datetime):
        return v.isoformat()
    return str(v)


def frame_fingerprint(cols: list[str], rows: list[tuple]) -> tuple[str, list[str]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_value(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return h, lines


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", action="append", default=None)
    ap.add_argument("--show-diff", action="store_true")
    ap.add_argument("--times", default=None, metavar="PATH",
                    help="write per-query timing JSON artifact")
    ap.add_argument("--times-baseline", default=None, metavar="PATH",
                    help="flag queries >3x slower than this artifact")
    args = ap.parse_args()
    if args.only:
        # accept comma-separated lists; refuse silently-matching-nothing
        args.only = [n for part in args.only for n in part.split(",") if n]
        import __spark_entry__ as _em

        unknown = [n for n in args.only if n not in _em.queries()]
        if unknown:
            ap.error(f"unknown query name(s) in --only: {', '.join(unknown)}")

    import __spark_entry__ as entry_mod
    from entwiner_spark.session import get_spark

    spark = get_spark("check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    checked = 0
    times: dict[str, dict] = {}
    t_start = time.time()
    load_start = os.getloadavg()
    for name, fn in qs.items():
        if args.only and name not in args.only:
            continue
        checked += 1
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            times[name] = {"status": "spark_error", "spark_sec": round(time.time() - t0, 3)}
            continue
        t_spark = time.time() - t0
        times[name] = {
            "status": "OK",
            "spark_sec": round(t_spark, 3),
            "rows": len(srows),
        }
        if name not in oracles:
            times[name]["status"] = "rows_only"
            print(f"ok(rows-only) {name}: {len(srows)} rows ({t_spark:.1f}s)")
            continue
        t1 = time.time()
        try:
            cur = con.execute(oracles[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            times[name]["status"] = "duck_error"
            continue
        times[name]["duck_sec"] = round(time.time() - t1, 3)
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rows spark={len(srows)} duck={len(drows)}")
        if not problems:
            sh, sl = frame_fingerprint(scols, srows)
            dh, dl = frame_fingerprint(dcols, drows)
            if sh != dh:
                problems.append("value-hash mismatch")
                if args.show_diff:
                    sset, dset = set(sl), set(dl)
                    for line in list(sset - dset)[:5]:
                        print("  spark-only:", line)
                    for line in list(dset - sset)[:5]:
                        print("  duck-only :", line)
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} ({time.time()-t0:.1f}s)")
            failures += 1
            times[name]["status"] = "mismatch"
        else:
            print(f"OK   {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")

    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'} "
          f"({checked} checked of {len(qs)} queries, {len(oracles)} with oracles)")
    if args.times:
        artifact = {
            "meta": {
                "sf_dir": args.sf_dir,
                "when": datetime.now().isoformat(timespec="seconds"),
                "total_sec": round(time.time() - t_start, 1),
                "checked": checked,
                "loadavg_1m_start": round(load_start[0], 2),
                "loadavg_1m_end": round(os.getloadavg()[0], 2),
            },
            "queries": times,
        }
        with open(args.times, "w") as f:
            json.dump(artifact, f, indent=1, sort_keys=True)
        print(f"wrote {args.times}")
        slowest = sorted(
            ((v.get("spark_sec", 0.0), k) for k, v in times.items()), reverse=True
        )[:10]
        print("top-10 slowest (spark sec):")
        for sec, k in slowest:
            print(f"  {sec:7.2f}  {k}")
    if args.times_baseline:
        with open(args.times_baseline) as f:
            base = json.load(f).get("queries", {})
        flagged = []
        for k, v in times.items():
            b = base.get(k, {}).get("spark_sec")
            cur_t = v.get("spark_sec")
            # sub-second timings are scheduling noise on local[*]
            if b and cur_t and cur_t > 1.0 and cur_t > 3.0 * b:
                flagged.append((k, b, cur_t))
        if flagged:
            print(f"\nREGRESSIONS vs {args.times_baseline} (>3x prior spark time):")
            for k, b, cur_t in sorted(flagged, key=lambda x: -x[2] / x[1]):
                print(f"  {k}: {b:.2f}s -> {cur_t:.2f}s ({cur_t / b:.1f}x)")
        else:
            print(f"\nno >3x regressions vs {args.times_baseline}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
