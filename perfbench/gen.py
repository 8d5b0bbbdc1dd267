"""Deterministic input tables for the benchmark.

The library reads an `sfDir` of parquet tables. The benchmark writes its own
copy of the tables its workloads touch -- `events` and `documents` --
shaped like the sf0.1 test data (same schemas, vocabulary, language mix,
planted exact duplicates), so a run needs nothing outside its checkout.

The tables are a pure function of `Scale` and DATA_SEED, written with
Python's `random` (its output is stable across Python versions), so every
checkout measures the same rows. The workload seed chooses query order and
ingest samples; it never changes these tables.
"""
import datetime
import json
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

VOCAB = ("spark line small fast group customer query row stream the part "
         "column order scan a slow agg key window table merge vector join "
         "batch sort value hash filter big data").split()
LANGS = [("en", 0.41), ("de", 0.14), ("es", 0.15), ("fr", 0.15), ("zh", 0.15)]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
N_SOURCES = 20
T0 = datetime.datetime(2024, 1, 1)
SPAN_US = 30 * 24 * 3600 * 10**6


@dataclass(frozen=True)
class Scale:
    events: int
    documents: int
    users: int = 1500


def _events(rng, n, users):
    offsets = sorted(rng.randrange(SPAN_US) for _ in range(n))
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([T0 + datetime.timedelta(microseconds=o) for o in offsets],
                       pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(users) for _ in range(n)], pa.int64()),
        "event_type": pa.array([rng.choice(EVENT_TYPES) for _ in range(n)]),
        "value": pa.array([round(min(rng.expovariate(1 / 50.0), 560.0), 2)
                           for _ in range(n)], pa.float64()),
        "props": pa.array(['{"k": %d}' % rng.randrange(100) for _ in range(n)]),
    })


def _documents(rng, n):
    langs, weights = zip(*LANGS)
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # planted exact duplicate, marked like the test data's
            texts.append(texts[rng.randrange(i)].removesuffix(" dup") + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB)
                                  for _ in range(rng.randint(8, 100))))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([rng.choices(langs, weights)[0] for _ in range(n)]),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(out_dir, scale):
    """Write the tables under `out_dir`, then a manifest marking them whole."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {}
    if scale.events:
        tables["events"] = _events(random.Random(DATA_SEED), scale.events,
                                   scale.users)
    if scale.documents:
        tables["documents"] = _documents(random.Random(DATA_SEED + 1),
                                         scale.documents)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump({"rows": {k: v.num_rows for k, v in tables.items()}}, f)
