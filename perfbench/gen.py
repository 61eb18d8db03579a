"""Seeded input generator for the benchmark.

Writes ``events``, ``documents`` and ``embeddings`` parquet files with the
schemas of the engine's testdata scale-factor directories, and a
``manifest.json`` with each table's row count, file bytes and content hash.

The seed changes every random draw; the size arguments and the shape
parameters below stay fixed, so two seeds give inputs of equal size and
equal statistical shape but different contents.  The properties the
engine's behaviour depends on are drawn per row or per series:

- series count and length: lengths vary ±40 % around ``mean_len``;
- irregular spacing: events come in bursts (sessions) with exponential
  gaps inside a burst and uniform burst starts over 30 days;
- value gaps: ``value`` is lognormal with a seeded share above the
  cut-off the interpolation ops null out, plus a few exact zeros.  Stored
  cells are never null: several engine ops disagree with their oracles
  on null input (see CHANGES.md);
- near-duplicates: ``near_dup_share`` of documents are edited copies of an
  earlier document (the pairs MinHash-LSH has to find).

Usage::

    python3 perfbench/gen.py OUT_DIR --seed 1 --events 100000
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400 * 1_000_000
SPAN_DAYS = 30
EPOCH_2024_US = 1_704_067_200 * 1_000_000      # 2024-01-01T00:00:00Z
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.6, 0.1, 0.1, 0.1, 0.1]
BASE_WORDS = ("spark sort scan hash join merge filter group agg window "
              "stream table query key value row column batch part line "
              "order data vector fast slow big small customer the a dup"
              ).split()

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])
DOCUMENTS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64())])
EMBEDDINGS_SCHEMA = pa.schema([
    ("vec_id", pa.int64()),
    ("embedding", pa.list_(pa.field("element", pa.float32()))),
    ("label", pa.int32())])


def make_events(rng: np.random.Generator, n_rows: int,
                mean_len: int = 67) -> pa.Table:
    """Per-user bursty event series, ordered by time like the testdata."""
    n_series = max(1, n_rows // mean_len)
    w = rng.uniform(0.6, 1.4, n_series)
    lens = np.floor(w / w.sum() * n_rows).astype(np.int64)
    lens[: n_rows - lens.sum()] += 1
    users = rng.permutation(n_series).astype(np.int64)
    user = np.repeat(users, lens)

    # bursts: a row opens a new burst with p=0.25 (each series' first row
    # always does); burst starts are uniform, in-burst gaps exponential
    first = np.zeros(n_rows, dtype=bool)
    first[np.concatenate(([0], np.cumsum(lens)[:-1]))] = True
    opens = first | (rng.random(n_rows) < 0.25)
    burst = np.cumsum(opens) - 1
    start = rng.integers(0, (SPAN_DAYS - 1) * DAY_US, burst[-1] + 1)
    gap = rng.exponential(300e6, n_rows).astype(np.int64) + 1
    gap[opens] = 0
    csum = np.cumsum(gap)
    offset = csum - csum[np.flatnonzero(opens)][burst]
    ts = np.minimum(start[burst] + offset, SPAN_DAYS * DAY_US - 1)

    # strictly increasing time inside each series: no ties for the
    # time-ordered window kernels to break arbitrarily
    order = np.lexsort((ts, user))
    user, ts = user[order], ts[order]
    pos = np.arange(n_rows)
    grp_start = np.flatnonzero(np.concatenate(([True], user[1:] != user[:-1])))
    rank = pos - np.repeat(grp_start, np.diff(np.append(grp_start, n_rows)))
    shifted = ts - rank
    for s, e in zip(grp_start, np.append(grp_start[1:], n_rows)):
        shifted[s:e] = np.maximum.accumulate(shifted[s:e])
    ts = shifted + rank

    glob = np.lexsort((user, ts))
    user, ts = user[glob], ts[glob]
    value = np.round(np.minimum(rng.lognormal(np.log(35.0), 1.1, n_rows),
                                600.0), 2)
    value[rng.random(n_rows) < 1e-4] = 0.0
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_rows)]
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_rows)
                                    .astype(str)), "}")
    return pa.table([
        pa.array(np.arange(n_rows, dtype=np.int64)),
        pa.array(ts + EPOCH_2024_US, type=pa.timestamp("us")),
        pa.array(user),
        pa.array(etype),
        pa.array(value),
        pa.array(props),
    ], schema=EVENTS_SCHEMA)


def make_documents(rng: np.random.Generator, n_docs: int,
                   near_dup_share: float = 0.1,
                   vocab_size: int = 3000) -> pa.Table:
    """Zipf-worded documents; a share of them are edited earlier docs."""
    vocab = np.array(BASE_WORDS + [f"w{i}" for i in range(vocab_size)])
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    p /= p.sum()
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < near_dup_share:
            words = texts[rng.integers(0, i)].split()
            edit = rng.random(len(words)) < 0.05
            for j in np.flatnonzero(edit):
                words[j] = vocab[rng.choice(len(vocab), p=p)]
        else:
            words = list(vocab[rng.choice(len(vocab), size=rng.integers(8, 100),
                                          p=p)])
        texts.append(" ".join(words))
    lang = LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)]
    source = np.char.add("src", rng.integers(0, 20, n_docs).astype(str))
    return pa.table([
        pa.array(np.arange(n_docs, dtype=np.int64)),
        pa.array(texts),
        pa.array(lang),
        pa.array(source),
        pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    ], schema=DOCUMENTS_SCHEMA)


def make_embeddings(rng: np.random.Generator, n_vecs: int, dim: int = 64,
                    n_labels: int = 10) -> pa.Table:
    """Clustered float32 vectors, one cluster per label."""
    centers = rng.normal(0.0, 0.15, (n_labels, dim))
    label = rng.integers(0, n_labels, n_vecs).astype(np.int32)
    vecs = (centers[label] + rng.normal(0.0, 0.1, (n_vecs, dim))) \
        .astype(np.float32)
    flat = pa.array(vecs.ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, n_vecs * dim + 1, dim, dtype=np.int32))
    emb = pa.ListArray.from_arrays(
        offsets, flat, type=EMBEDDINGS_SCHEMA.field("embedding").type)
    return pa.table([pa.array(np.arange(n_vecs, dtype=np.int64)), emb,
                     pa.array(label)], schema=EMBEDDINGS_SCHEMA)


def _write(table: pa.Table, path: str) -> dict:
    pq.write_table(table, path)
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return {"rows": table.num_rows, "bytes": os.path.getsize(path),
            "sha256": h.hexdigest()}


def generate(out_dir: str, seed: int, n_events: int = 0, n_docs: int = 0,
             n_vecs: int = 0) -> dict:
    """Write the requested tables under ``out_dir``; return the manifest.
    A zero size skips that table.  Each table draws from its own stream,
    so its contents depend only on the seed and its own size."""
    os.makedirs(out_dir, exist_ok=True)
    seeds = np.random.SeedSequence(seed).spawn(3)
    manifest = {"seed": seed}
    if n_events:
        manifest["events"] = _write(
            make_events(np.random.default_rng(seeds[0]), n_events),
            os.path.join(out_dir, "events.parquet"))
    if n_docs:
        manifest["documents"] = _write(
            make_documents(np.random.default_rng(seeds[1]), n_docs),
            os.path.join(out_dir, "documents.parquet"))
    if n_vecs:
        manifest["embeddings"] = _write(
            make_embeddings(np.random.default_rng(seeds[2]), n_vecs),
            os.path.join(out_dir, "embeddings.parquet"))
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--events", type=int, default=100_000)
    ap.add_argument("--docs", type=int, default=5_000)
    ap.add_argument("--vecs", type=int, default=2_000)
    a = ap.parse_args()
    print(json.dumps(generate(a.out_dir, a.seed, a.events, a.docs, a.vecs),
                     indent=1))


if __name__ == "__main__":
    main()
