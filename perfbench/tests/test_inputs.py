import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import inputs


def _files(root):
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_same_seed_gives_same_bytes(tmp_path):
    for run in ("a", "b"):
        inputs.make_corpus(str(tmp_path / run / "corpus"), seed=7, target_bytes=200_000, n_files=3)
        inputs.make_tables(str(tmp_path / run / "tables"), seed=7)
    a, b = _files(tmp_path / "a"), _files(tmp_path / "b")
    assert sorted(a) == sorted(b)
    assert len(a) == 3 + len(inputs.TABLES)
    assert all(a[k] == b[k] for k in a)


def test_other_seed_gives_other_inputs(tmp_path):
    inputs.make_corpus(str(tmp_path / "s1"), seed=1, target_bytes=100_000, n_files=1)
    inputs.make_corpus(str(tmp_path / "s2"), seed=2, target_bytes=100_000, n_files=1)
    assert _files(tmp_path / "s1") != _files(tmp_path / "s2")


def test_corpus_is_zipf_with_mixed_delimiters(tmp_path):
    inputs.make_corpus(str(tmp_path / "c"), seed=3, target_bytes=300_000, n_files=2)
    text = " ".join(pq.read_table(str(tmp_path / "c")).column("text").to_pylist())
    for d in (", ", ". ", "\n", "\t", " 42 "):
        assert d in text
    ranks = inputs.zipf_ranks(np.random.default_rng(0), 200_000, 1000, inputs.ZIPF_S)
    counts = np.bincount(ranks, minlength=1000)
    # P(rank 0) / P(rank 9) = 10 ** 1.1 ~ 12.6
    assert 9 < counts[0] / counts[9] < 17


def test_ensure_caches_each_part_per_seed(tmp_path, monkeypatch):
    calls = []
    monkeypatch.setattr(inputs, "make_corpus", lambda out, seed: (calls.append(("corpus", seed)), os.makedirs(out)))
    monkeypatch.setattr(inputs, "make_tables", lambda out, seed: (calls.append(("tables", seed)), os.makedirs(out)))
    first = inputs.ensure(str(tmp_path), 5, "tables")
    second = inputs.ensure(str(tmp_path), 5, "tables")
    assert calls == [("tables", 5)]
    assert second["gen_s"] == 0.0 and first["tables_dir"] == second["tables_dir"]
    inputs.ensure(str(tmp_path), 5, "corpus")
    assert calls == [("tables", 5), ("corpus", 5)]


def test_tables_have_the_measured_sf01_shape(tmp_path):
    inputs.make_tables(str(tmp_path / "t"), seed=4)
    docs = pq.read_table(str(tmp_path / "t" / "documents.parquet"))
    texts = docs.column("text").to_pylist()
    assert docs.num_rows == inputs.N_DOCUMENTS
    assert sorted(docs.column("doc_id").to_pylist()) == list(range(inputs.N_DOCUMENTS))
    assert sum(t.endswith(" dup") for t in texts) == inputs.N_NEAR_DUPS
    words = [t.split(" ") for t in texts]
    assert {w for ws in words for w in ws} == set(inputs.DOC_WORDS) | {"dup"}
    bare = [[w for w in ws if w != "dup"] for ws in words]
    assert min(map(len, bare)) >= inputs.DOC_MIN_WORDS and max(map(len, bare)) <= inputs.DOC_MAX_WORDS
    assert docs.column("n_chars").to_pylist() == [len(t) for t in texts]

    ev = pq.read_table(str(tmp_path / "t" / "events.parquet")).sort_by("event_id")
    assert ev.num_rows == inputs.N_EVENTS
    assert ev.schema.field("ts").type == pa.timestamp("us")
    ts = ev.column("ts").cast(pa.int64()).to_numpy()
    assert (np.diff(ts) >= 0).all()  # event_id follows ts, as in sf0.1
    value = ev.column("value").to_numpy()
    assert abs(value.mean() - inputs.VALUE_MEAN) < 1.5
    assert set(np.unique(ev.column("user_id").to_numpy())) == set(range(inputs.N_USERS))
