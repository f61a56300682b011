"""Capture .explain("formatted") for named queries into a directory.

Usage: PYTHONPATH=<repo> python capture_plans.py <repo_dir> <out_dir> <suffix> <sf_dir> <name> [names...]
"""
import contextlib
import io
import os
import sys
import time

if len(sys.argv) < 6:
    sys.exit(__doc__)
repo, out_dir, suffix, sf_dir = sys.argv[1:5]
names = sys.argv[5:]
sys.path.insert(0, repo)

from parallel_mapreduce_spark.registry import QUERIES, _load_all  # noqa: E402
from parallel_mapreduce_spark.session import get_spark  # noqa: E402

_load_all()
spark = get_spark("capture-plans")
os.makedirs(out_dir, exist_ok=True)

for name in names:
    t0 = time.time()
    try:
        df = QUERIES[name].fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        txt = buf.getvalue()
    except Exception as exc:  # noqa: BLE001
        txt = f"ERROR building plan: {exc}\n"
    n_exch = txt.count("Exchange")
    hdr = (
        f"-- {name} ({suffix}) sf={sf_dir}\n"
        f"-- Exchange nodes in final plan: {n_exch}\n"
        f"-- NOTE: iterative queries materialize per-round inside the\n"
        f"-- query function; this is the plan of the RETURNED frame.\n"
    )
    with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
        fh.write(hdr + txt)
    print(f"{time.time()-t0:6.1f}s  {name}: exchanges={n_exch}", flush=True)
