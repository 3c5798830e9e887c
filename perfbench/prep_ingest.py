#!/usr/bin/env python3
"""Arrival intervals for the `ingest_serve` workload.

Runs the engine's own scale-out generator (`tools/gen_sf1.py`) over the
benchmark's base tables, then cuts its output back into one directory
per copy, `i0 .. i<COPIES-1>`, each holding that copy's `events`,
`documents` and `embeddings`:

- copy 0 is the standing base, the rest arrive one interval each;
- every interval's event times are shifted 31 days past the previous
  interval's (the base spans 30 days), so arrivals are in time order;
- a fixed share of every interval's documents repeats, verbatim, the
  text of a document from an earlier interval, so the MinHash screen
  finds cross-interval duplicates (the generator alone makes the copies
  disjoint).

Deterministic: no input from the benchmark's seed.

Usage: python3 prep_ingest.py REPO_ROOT BASE_DIR DST COPIES
"""
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REPEAT_SHARE = 0.1
SHIFT_US = 31 * 86_400_000_000
KEYS = {"events": "event_id", "documents": "doc_id", "embeddings": "vec_id"}


def main():
    root, base, dst, copies = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
    scaled = dst + ".gen"
    shutil.rmtree(scaled, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(root, "tools", "gen_sf1.py"),
                    base, scaled, str(copies)], check=True,
                   stdout=subprocess.DEVNULL)
    rng = np.random.RandomState(7)
    rows = {}
    earlier_texts = []
    for table, key in KEYS.items():
        stride = pc.max(pq.read_table(f"{base}/{table}.parquet")[key]).as_py() + 1
        full = pq.read_table(f"{scaled}/{table}.parquet")
        copy_of = pc.divide(full[key], stride).to_numpy()
        for i in range(copies):
            part = full.filter(pa.array(copy_of == i))
            if table == "events":
                ts = pc.cast(part["ts"], pa.int64())
                ts = pc.cast(pc.add(ts, i * SHIFT_US), part.schema.field("ts").type)
                part = part.set_column(part.schema.get_field_index("ts"), "ts", ts)
            elif table == "documents":
                texts = part["text"].to_pylist()
                if i > 0:
                    for j in rng.choice(len(texts), int(len(texts) * REPEAT_SHARE),
                                        replace=False):
                        texts[j] = earlier_texts[rng.randint(len(earlier_texts))]
                earlier_texts += texts
                part = part.set_column(part.schema.get_field_index("text"), "text",
                                       pa.array(texts, pa.string()))
                part = part.set_column(part.schema.get_field_index("n_chars"), "n_chars",
                                       pa.array([len(t) for t in texts], pa.int64()))
            os.makedirs(f"{dst}/i{i}", exist_ok=True)
            pq.write_table(part, f"{dst}/i{i}/{table}.parquet", version="2.6")
            rows[f"i{i}/{table}"] = part.num_rows
    shutil.rmtree(scaled)
    with open(f"{dst}/_MANIFEST.json", "w") as f:
        json.dump({"copies": copies, "tables": rows}, f)


if __name__ == "__main__":
    main()
