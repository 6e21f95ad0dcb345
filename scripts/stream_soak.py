"""Rate-limited multi-micro-batch streaming soak (r08 verdict optional 7).

The registered ``stream_*`` ops normally drain their file source in one
availableNow micro-batch (single events.parquet). This soak re-runs every
REAL streaming key as a genuine multi-micro-batch stream — the events
table split into N event-time-ordered chunk files, ``maxFilesPerTrigger=1``
— and hash-compares each against its DuckDB oracle, exactly like the
driver's t2 gate. This is the daily-ingest shape: the watermark advances
between micro-batches; state (windows, dedup keys, carry-forward, join
buffers) must survive batch boundaries for the oracle to still match.

``stream_join_stream_outer`` is recorded rows-only: its NULL-emission is
EVICTION-DRIVEN, so the output legitimately depends on how many watermark
advances the ingest saw — the soak records its row count and that it ran
multi-batch, not equality with the single-drain run.

Usage: python scripts/stream_soak.py [sf_dir] [n_chunks]
Writes /tmp/stream_soak.json (commit as STREAM_SOAK_r{N}.json).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

ORACLED_STREAM_KEYS = [
    "stream_watermark_late",
    "stream_dedup",
    "stream_join_static",
    "stream_join_stream",
    "stream_stateful",
    "stream_pattern_kleene",
    "stream_foreach_batch_upsert",
    "stream_complete_topk",
]
ROWS_ONLY_STREAM_KEYS = ["stream_join_stream_outer"]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    chunks = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    env = dict(os.environ)
    env["SPARK_GRAFT_STREAM_SPLIT"] = str(chunks)
    results: dict[str, str] = {}
    for key in ORACLED_STREAM_KEYS + ROWS_ONLY_STREAM_KEYS:
        t0 = time.perf_counter()
        try:
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "check_key.py"), key, sf_dir],
                capture_output=True, text=True, env=env, timeout=900,
            )
            line = (p.stdout.strip().splitlines() or ["<no output>"])[-1]
            results[key] = f"{line.split(': ', 1)[-1]} ({time.perf_counter() - t0:.1f}s)"
        except subprocess.TimeoutExpired:
            results[key] = f"TIMEOUT >900s ({time.perf_counter() - t0:.1f}s)"
        print(json.dumps({key: results[key]}), flush=True)
    fails = {
        k: v
        for k, v in results.items()
        if k in ORACLED_STREAM_KEYS and not v.startswith("MATCH")
    }
    summary = {
        "sf_dir": sf_dir,
        "chunks": chunks,
        "mode": "maxFilesPerTrigger=1 over event-time-ordered chunk files (real multi-micro-batch), hash-gated vs the same DuckDB oracles as the driver t2",
        "results": results,
        "fails": fails,
    }
    with open("/tmp/stream_soak.json", "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps(summary))
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
