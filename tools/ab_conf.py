"""A/B a set of SparkSession conf overrides over a query subset.

Usage: python tools/ab_conf.py '<json conf overrides>' <query ...>

Override keys beginning with ``env:`` set process ENV VARS in the
child instead of Spark conf (e.g. ``env:SPARK_GRAFT_NO_TD_CACHE``).

ABBA design (first measurement lesson of r12: a base-then-override
pair credits the override with the OS page-cache warmth the base run
paid for — an early A/B here read 0.78x for a config that an
ABBA re-run showed is actually 1.25x WORSE): arms run
base → override → override → base as four separate processes, each
arm reports the min of its two runs, so both arms own one warm slot.
"""
from __future__ import annotations

import json
import os
import subprocess
import sys

REPS = int(os.environ.get("AB_REPS", "3"))

_RUNNER = r"""
import json, sys, time
sys.path.insert(0, "@REPO@")
from aiports_data_warehouse_etl_spark.queries import QUERIES
from aiports_data_warehouse_etl_spark.session import get_spark
conf = json.loads(sys.argv[1])
names = json.loads(sys.argv[2])
reps = int(sys.argv[3])
sf_dir = "/root/testdata/sf0.1"
conf.setdefault("spark.driver.memory", "32g")
conf.setdefault("spark.ui.enabled", "false")
spark = get_spark(app_name="ab", extra_conf=conf)
spark.sparkContext.setLogLevel("ERROR")
QUERIES["s1_scan_project"].fn(spark, sf_dir).count()
out = {}
for name in names:
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        QUERIES[name].fn(spark, sf_dir).count()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    spark.catalog.clearCache()
    out[name] = round(best, 3)
print("ABRESULT " + json.dumps(out))
"""


def run(conf: dict, names: list[str]) -> dict:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = _RUNNER.replace("@REPO@", repo)
    env = dict(os.environ)
    spark_conf = {}
    for k, v in conf.items():
        if k.startswith("env:"):
            env[k[4:]] = str(v)
        else:
            spark_conf[k] = v
    p = subprocess.run(
        [sys.executable, "-c", code, json.dumps(spark_conf),
         json.dumps(names), str(REPS)],
        capture_output=True, text=True, timeout=3600, env=env,
    )
    for line in p.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    raise RuntimeError(f"no result: {p.stdout[-2000:]}\n{p.stderr[-2000:]}")


def main() -> None:
    overrides = json.loads(sys.argv[1])
    names = sys.argv[2:]
    runs = [run({}, names), run(overrides, names),
            run(overrides, names), run({}, names)]
    base = {n: min(runs[0][n], runs[3][n]) for n in names}
    var = {n: min(runs[1][n], runs[2][n]) for n in names}
    tb = tv = 0.0
    print(f"{'query':40s} {'base':>8s} {'override':>9s} {'ratio':>6s}")
    for n in names:
        tb += base[n]; tv += var[n]
        print(f"{n:40s} {base[n]:8.3f} {var[n]:9.3f} "
              f"{var[n]/max(base[n],1e-9):6.2f}")
    print(f"{'TOTAL':40s} {tb:8.3f} {tv:9.3f} {tv/max(tb,1e-9):6.2f}")


if __name__ == "__main__":
    main()
