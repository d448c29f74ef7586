"""Same-session interleaved A/B for operator changes.

Loads the CONTROL implementation of one or more package modules from a
git commit (default: a19c924) into shadow modules, then
times a declared query with control vs candidate attrs swapped in,
interleaved in ONE session with ``clearCache()`` between reps — the
only decision-grade protocol on this box (OPTIMIZATION_r19.md method).

Usage:
    python ab_operator.py <query> <module:attr[,attr...]> [reps] [commit]
e.g.
    python ab_operator.py q_duplicate_span_removal \
        rusty_timeseries_db_spark/operators/dedup.py:duplicate_spans 4
"""
import importlib
import importlib.util
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rusty_timeseries_db_spark import queries as _q
from rusty_timeseries_db_spark.session import get_spark

query = sys.argv[1]
specs = sys.argv[2].split(";")
reps = int(sys.argv[3]) if len(sys.argv) > 3 else 4
commit = sys.argv[4] if len(sys.argv) > 4 else "a19c924"
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

swaps = []  # (cur_module, attr, old_value, new_value)
for spec in specs:
    relpath, attrs = spec.split(":")
    dotted = relpath.replace("/", ".").removesuffix(".py")
    src = subprocess.check_output(["git", "show", f"{commit}:{relpath}"]).decode()
    old_name = dotted.rsplit(".", 1)[0] + "._ab_old_" + dotted.rsplit(".", 1)[1]
    mspec = importlib.util.spec_from_loader(old_name, loader=None)
    old_mod = importlib.util.module_from_spec(mspec)
    old_mod.__package__ = dotted.rsplit(".", 1)[0]
    sys.modules[old_name] = old_mod
    exec(compile(src, f"<{commit}:{relpath}>", "exec"), old_mod.__dict__)
    cur_mod = importlib.import_module(dotted)
    for attr in attrs.split(","):
        swaps.append((cur_mod, attr, getattr(old_mod, attr), getattr(cur_mod, attr)))

def set_variant(control: bool) -> None:
    for mod, attr, oldv, newv in swaps:
        setattr(mod, attr, oldv if control else newv)

spark = get_spark(app_name=f"ab:{query}", master="local[32]")
spark.sparkContext.setLogLevel("ERROR")
fn = _q.all_queries()[query]

# warm both variants at sf0.001 (codegen), then the timed-sf scans
for control in (True, False):
    set_variant(control)
    try:
        fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
    except Exception as e:
        print(f"warm failed ({'control' if control else 'cand'}): {e}", file=sys.stderr)
        raise
from rusty_timeseries_db_spark.sources.registry import TABLES
for t in TABLES:
    p = os.path.join(sf_dir, f"{t}.parquet")
    if os.path.exists(p):
        spark.read.parquet(p).write.format("noop").mode("overwrite").save()

res = {"control": [], "cand": []}
for i in range(reps):
    for control in (True, False):
        set_variant(control)
        spark.catalog.clearCache()
        key = "control" if control else "cand"
        spark.sparkContext.setJobDescription(f"{query}:{key}:rep{i}")
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        res[key].append(time.perf_counter() - t0)
        print(f"rep{i} {key}: {res[key][-1]:.3f}s", flush=True)
set_variant(False)
for key in ("control", "cand"):
    v = sorted(res[key])
    print(f"{key}: min {v[0]:.3f}s median {v[len(v)//2]:.3f}s  (all {[round(x,3) for x in v]})")
print(f"RATIO min cand/control: {min(res['cand'])/min(res['control']):.3f}")
