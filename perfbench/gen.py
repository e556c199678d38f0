"""Input generator for the benchmark.

Writes the tables a workload reads, one parquet file each, in the
schema of the repo's sf0.1 test corpus (`documents`, `events`). The
inputs are fixed: they come from INPUT_SEED alone, and the run's
`--seed` sets only the order of operations. Their shape was measured
against the sf0.1 corpus (see README.md, "Inputs"):
  - documents: 5,000 word-salad texts over the corpus's 31-word
    vocabulary, 10-99 words each, 5% an earlier text plus " dup";
    311,442 simhash near-duplicate pairs (sf0.1: 311,610), whose graph
    has 4,744 nodes (4,763) and a largest component of 4,715 (4,724);
  - events: 100,000 events over 1,500 keys and 30 days, exponential
    values of mean 50 in cents, 5 event types, as sf0.1's tape.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

INPUT_SEED = 8  # of ten seeds tried, the closest to sf0.1's pair count

WORDS = ("spark window merge table column vector stream value data small join filter "
         "big group hash customer sort order slow line part fast row the agg key query "
         "a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

EPOCH = dt.datetime(1970, 1, 1)
DAY_US = 86_400_000_000


def _us(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us"))


def _cents(x):
    return np.round(x, 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), f"{out}/{name}.parquet")


def events(rng, n, users):
    """Event log sorted by time: `users` keys over 30 days, exponential values."""
    ts = np.sort(_us(dt.datetime(2024, 1, 1)) + rng.integers(0, 30 * DAY_US, n))
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(_cents(rng.exponential(50.0, n))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def documents(rng, n):
    """Word-salad documents over a 31-word vocabulary; 5% are an earlier
    document with " dup" appended, so the near-duplicate graph has edges."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def generate(workload, out):
    """Write the tables `workload` reads into directory `out`."""
    rng = np.random.default_rng(INPUT_SEED)
    if workload == "graph_memo":
        _write(out, "documents", documents(rng, 5_000))
    elif workload == "stream_state":
        _write(out, "events", events(rng, 100_000, 1_500))
    else:
        raise ValueError(f"unknown workload {workload}")
