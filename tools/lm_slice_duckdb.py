#!/usr/bin/env python3
"""DuckDB side of the LM-family scale adjudication: times the c27 /
c28 / c42 oracle SQL on the documents-only slice built by
make_lm_slice.py, min-of-N with all raw runs reported (the round-15
dispersion discipline). The Spark side runs the same keys on the same
slice:
    SPARK_GRAFT_SF_DIR=.scratch/sf5lm \\
    SPARK_GRAFT_BENCH_ONLY=c27_lm_perplexity,c28_dsir_weight,c42_trigram_lm \\
        sbt "runMain graft.Bench"

Usage: python3 tools/lm_slice_duckdb.py <oracle_sql.json> [sliceDir] [runs]
(the oracle_sql.json from any graft.Verify run supplies the SQL texts;
these three queries read only `documents`, no sidecars)
"""
import sys, json, os, time, glob
import duckdb

oracle_path = sys.argv[1]
slice_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scratch", "sf5lm")
# first run is discarded as warmup, so the min needs >= 2
runs = max(2, int(sys.argv[3])) if len(sys.argv) > 3 else 4

KEYS = ["c27_lm_perplexity", "c28_dsir_weight", "c42_trigram_lm"]
oracle = json.load(open(oracle_path))

con = duckdb.connect()
docs = os.path.join(slice_dir, "documents.parquet")
src = f"{docs}/*.parquet" if os.path.isdir(docs) else docs
con.execute(f"CREATE VIEW documents AS SELECT * FROM '{src}'")
# warm page cache: touch bytes, not just footers (make_baseline.py rule)
for part in (glob.glob(f"{docs}/*.parquet") if os.path.isdir(docs) else [docs]):
    with open(part, "rb") as fh:
        while fh.read(1 << 22):
            pass

out = {"probe": "lm_scale_duckdb", "slice_dir": slice_dir,
       "threads": con.execute("SELECT current_setting('threads')").fetchone()[0]}
for k in KEYS:
    walls = []
    for _ in range(runs):
        t0 = time.time()
        con.execute(oracle[k]).fetch_arrow_table()
        walls.append(time.time() - t0)
    timed = walls[1:]
    out[k] = {"min_s": round(min(timed), 3),
              "runs_s": [round(w, 3) for w in walls]}
print(json.dumps(out))
