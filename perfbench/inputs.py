"""Seeded benchmark inputs.

``ensure(data_root, seed, part)`` builds, once per seed, one part of
what the workloads read and caches it under ``data_root/seed<N>/``:

* ``corpus/documents.parquet/`` -- the word-count corpus: Zipf(s=1.1)
  draws over a 1M-word vocabulary, joined by mixed delimiters
  (spaces, punctuation, digits, newlines) with sentence-initial
  capitals, split into many parquet files.
* ``tables/{documents,events}.parquet`` -- the tables the ``python_udf``
  queries read, generated with the schemas, row counts and value
  distributions measured on the repo's sf0.1 test tables (see the
  constants below), rows in a seed-permuted order.

The same seed gives the same bytes: every column comes from a numpy
generator keyed on (seed, table) and parquet files are written from
Arrow tables without writer-dependent metadata.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_BYTES = 24 << 20
CORPUS_FILES = 32
VOCAB_SIZE = 1_000_000
ZIPF_S = 1.1

# (delimiter, probability); a ". " makes the next token capitalized.
DELIMS = (
    (" ", 0.78), (", ", 0.07), (". ", 0.05), ("\n", 0.03), (" - ", 0.02),
    ("; ", 0.015), (" 42 ", 0.01), ("\t", 0.01), ("'s ", 0.005), (" (x) ", 0.01),
)

# The constants below reproduce the repo's sf0.1 test tables
# (documents.parquet, events.parquet), measured from those files:
# * documents: 5000 rows, doc_id 0..4999. Every text is 10..100 words
#   (uniform; median 54) drawn uniformly from the 30 words below. 250
#   rows (5%) are near-duplicates: a copy of another row's text with
#   " dup" appended. A copy of a copy carries "dup dup", and two copies
#   of one row are exact duplicates, as in the measured file (4 and 8
#   rows). lang is en 41%, de/es/fr/zh about 15% each. source is
#   src<doc_id % 20>. n_chars is len(text).
# * events: 100000 rows, event_id 0..99999 in ts order. ts is
#   timestamp[us] (the file's own unit), uniform over the 30 days from
#   2024-01-01, so gaps average 25.9 s. user_id is uniform over 0..1499,
#   event_type uniform over the five types, value exponential with mean
#   50 rounded to cents (measured: mean 49.87, median 34.77, max
#   560.21), props '{"k": <0..99>}' uniform.
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
N_DOCUMENTS = 5000
DOC_MIN_WORDS, DOC_MAX_WORDS = 10, 100
N_NEAR_DUPS = 250
LANGS = (("en", 0.40), ("de", 0.15), ("es", 0.15), ("fr", 0.15), ("zh", 0.15))
N_EVENTS = 100_000
N_USERS = 1500
EVENT_DAYS = 30
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
VALUE_MEAN = 50.0
PROPS_KEYS = 100
TABLES = ("documents", "events")

_US_PER_DAY = 86_400_000_000


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _base26(values: np.ndarray) -> np.ndarray:
    """Lower-case letter strings for positive ints (vectorized)."""
    width = int(np.floor(np.log(values.max()) / np.log(26))) + 1
    n_digits = np.floor(np.log(values) / np.log(26)).astype(np.int64) + 1
    out = np.zeros((len(values), width), dtype=np.uint8)
    for j in range(width):
        k = n_digits - 1 - j
        out[:, j] = np.where(k >= 0, 97 + (values // 26 ** np.maximum(k, 0)) % 26, 0)
    return out.view(f"S{width}").ravel().astype(str).astype(object)


def zipf_ranks(rng: np.random.Generator, n: int, vocab: int, s: float) -> np.ndarray:
    """``n`` draws of ranks 0..vocab-1 with P(r) proportional to (r+1)^-s."""
    cdf = np.cumsum(np.arange(1, vocab + 1, dtype=np.float64) ** -s)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(n)), vocab - 1)


def make_corpus(out_dir: str, seed: int, target_bytes: int = CORPUS_BYTES,
                n_files: int = CORPUS_FILES) -> None:
    rng = _rng(seed, 1)
    # Every word is 3-5 letters; which string gets which rank is seeded.
    words = _base26(rng.permutation(VOCAB_SIZE) + 26 * 26)
    capitals = np.array([w.capitalize() for w in words], dtype=object)
    delims = np.array([d for d, _ in DELIMS], dtype=object)
    probs = np.array([p for _, p in DELIMS])
    n_tokens = target_bytes // 6  # ~4.6 letters + ~1.4 delimiter bytes
    ranks = zipf_ranks(rng, n_tokens, VOCAB_SIZE, ZIPF_S)
    dsel = rng.choice(len(delims), size=n_tokens, p=probs / probs.sum())
    after_stop = np.concatenate([[True], delims[dsel[:-1]] == ". "])
    tokens = np.where(after_stop, capitals[ranks], words[ranks])
    flat = np.empty(2 * n_tokens, dtype=object)
    flat[0::2] = tokens
    flat[1::2] = delims[dsel]
    # Documents of 200..3000 tokens; doc boundaries cut the stream.
    lengths = rng.integers(200, 3000, size=n_tokens // 200 + 1)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    bounds = bounds[bounds < n_tokens].tolist() + [n_tokens]
    texts = ["".join(flat[2 * a:2 * b]) for a, b in zip(bounds[:-1], bounds[1:])]
    ids = np.arange(len(texts), dtype=np.int64)
    os.makedirs(out_dir)
    for f, part in enumerate(np.array_split(np.arange(len(texts)), n_files)):
        _write(
            pa.table({"doc_id": ids[part], "text": pa.array([texts[i] for i in part], pa.string())}),
            os.path.join(out_dir, f"part-{f:05d}.parquet"),
        )


def _documents(seed: int) -> pa.Table:
    rng = _rng(seed, 2)
    vocab = np.array(DOC_WORDS, dtype=object)
    lengths = rng.integers(DOC_MIN_WORDS, DOC_MAX_WORDS + 1, N_DOCUMENTS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in lengths]
    for i in rng.choice(N_DOCUMENTS, N_NEAR_DUPS, replace=False):
        j = (int(i) + int(rng.integers(1, N_DOCUMENTS))) % N_DOCUMENTS  # any other row
        texts[i] = texts[j] + " dup"
    langs = np.array([code for code, _ in LANGS], dtype=object)
    lang = langs[rng.choice(len(LANGS), N_DOCUMENTS, p=[p for _, p in LANGS])]
    ids = np.arange(N_DOCUMENTS, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _events(seed: int) -> pa.Table:
    rng = _rng(seed, 5)
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, EVENT_DAYS * _US_PER_DAY, N_EVENTS))
    return pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, N_USERS, N_EVENTS),
        "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[rng.integers(0, len(EVENT_TYPES), N_EVENTS)], pa.string()),
        "value": np.round(rng.exponential(VALUE_MEAN, N_EVENTS), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, PROPS_KEYS, N_EVENTS)], pa.string()),
    })


def make_tables(out_dir: str, seed: int) -> None:
    built = {"documents": _documents(seed), "events": _events(seed)}
    os.makedirs(out_dir)
    for i, name in enumerate(TABLES):
        t = built[name]
        _write(t.take(_rng(seed, 100 + i).permutation(t.num_rows)), os.path.join(out_dir, f"{name}.parquet"))


def ensure(data_root: str, seed: int, part: str) -> dict:
    """Paths and sizes of one ``part`` of the inputs for ``seed``
    (``corpus`` or ``tables``), generating it on first use. ``gen_s``
    is the generation time (0.0 when cached)."""
    seed_dir = os.path.join(data_root, f"seed{seed}")
    final = os.path.join(seed_dir, part)
    marker = final + ".json"
    if os.path.exists(marker):
        with open(marker) as fh:
            info = json.load(fh)
        info["gen_s"] = 0.0
    else:
        info = _generate(final, seed, part)
    info["seed_dir"] = seed_dir
    info[f"{part}_dir"] = final
    return info


def _generate(final: str, seed: int, part: str) -> dict:
    t0 = time.perf_counter()
    staging = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    if part == "corpus":
        make_corpus(os.path.join(staging, "documents.parquet"), seed)
    else:
        make_tables(staging, seed)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(staging, final)
    files = [os.path.join(d, f) for d, _, fs in os.walk(final) for f in fs]
    info = {
        "seed": seed,
        "part": part,
        "input_bytes": sum(os.path.getsize(f) for f in files),
        "input_files": len(files),
    }
    with open(final + ".json", "w") as fh:
        json.dump(info, fh)
    info["gen_s"] = time.perf_counter() - t0
    return info
