"""The shared index lifecycle (operators/index_store.py) as each of the six
persisted families wires it: a crash at the delta commit point leaves an
unmarked, invisible delta (the serve equals the pre-append state), a retry
of the same batch serves like a live rebuild, and re-ingesting an indexed
id fails loudly naming the family's public ``*_append_index``.  Plus the
BM25 write's over-budget branch: the postings are written first and
token_df/stats derive from the written parquet."""

import glob
import os

import pytest

import orange3_timeseries_spark.operators.dedup as D
import orange3_timeseries_spark.operators.index_store as ist
import orange3_timeseries_spark.operators.retrieval as R
import orange3_timeseries_spark.operators.similarity as S

TEXTS = [(i, f"token{i} alpha beta gamma delta common words here {i}")
         for i in range(1, 13)]
VECS = [(i, [float((i * 7 + j) % 5) for j in range(8)]) for i in range(12)]
CENTS = [v for _, v in VECS[:4]]
BOOKS = [[v[m * 2:(m + 1) * 2] for _, v in VECS[:4]] for m in range(4)]


def _text(spark, ids):
    return spark.createDataFrame([r for r in TEXTS if r[0] in ids],
                                 "doc_id long, text string")


def _vec(spark, ids):
    return spark.createDataFrame([r for r in VECS if r[0] in ids],
                                 "vec_id long, embedding array<double>")


def _text_probe(spark):
    # exact copies of one base doc and one appended doc: a probe hits
    # the appended doc only once its delta is visible
    return spark.createDataFrame([(101, TEXTS[1][1]), (102, TEXTS[8][1])],
                                 "doc_id long, text string")


def _bm25_queries(spark):
    return spark.createDataFrame([(1, "alpha token2"), (2, "token9 beta")],
                                 "query_id long, text string")


def _vec_queries(spark):
    return spark.createDataFrame([(0, VECS[2][1]), (1, VECS[9][1])],
                                 "query_id long, embedding array<double>")


# name -> (frame maker, build, write, read, append, journaled table, serve)
FAMILIES = {
    "bm25": (_text, lambda df: R.bm25_build_index(df, n_buckets=8),
             R.write_bm25_index, R.read_bm25_index, R.bm25_append_index,
             "postings",
             lambda spark, ix: R.bm25_topk_from_index(
                 ix, _bm25_queries(spark), top_k=3)),
    "lsh": (_text, lambda df: D.lsh_build_index(df, n_buckets=8),
            D.write_lsh_index, D.read_lsh_index, D.lsh_append_index,
            "entries",
            lambda spark, ix: D.lsh_probe_index(ix, _text_probe(spark),
                                                threshold=0.2)),
    "simhash": (_text, lambda df: D.simhash_build_index(df, n_buckets=8),
                D.write_simhash_index, D.read_simhash_index,
                D.simhash_append_index, "entries",
                lambda spark, ix: D.simhash_probe_index(
                    ix, _text_probe(spark), max_distance=3)),
    "ivf": (_vec, lambda df: S.ivf_build_index(df, centroids=CENTS),
            S.write_ivf_index, S.read_ivf_index, S.ivf_append_index,
            "lists",
            lambda spark, ix: S.ivf_topk_from_index(
                ix, _vec_queries(spark), k=3, nprobe=2)),
    "pq": (_vec, lambda df: S.pq_build_index(df, codebooks=BOOKS,
                                             n_subspaces=4),
           S.write_pq_index, S.read_pq_index, S.pq_append_index, "codes",
           lambda spark, ix: S.pq_topk_from_index(ix, _vec_queries(spark),
                                                  k=3)),
    "ivfpq": (_vec, lambda df: S.ivfpq_build_index(df, CENTS, BOOKS),
              S.write_ivfpq_index, S.read_ivfpq_index,
              S.ivfpq_append_index, "entries",
              lambda spark, ix: S.ivfpq_topk_from_index(
                  ix, _vec_queries(spark), k=3, nprobe=2)),
}


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _ndeltas(vpath):
    return len(glob.glob(os.path.join(vpath, "delta=*", "_COMMITTED")))


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_torn_append_retry_and_id_guard(spark, tmp_path, monkeypatch,
                                        family):
    frame, build, write, read, append, table, serve = FAMILIES[family]
    base_ids, new_ids = set(range(1, 7)), set(range(7, 12))
    root = str(tmp_path / family)
    write(build(frame(spark, base_ids)), root)
    pre = _rows(serve(spark, read(spark, root)))
    assert pre == _rows(serve(spark, build(frame(spark, base_ids))))

    real_commit = ist.commit_delta

    def crash(dpath):
        raise RuntimeError("simulated crash before delta commit")

    monkeypatch.setattr(ist, "commit_delta", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        append(spark, root, frame(spark, new_ids))
    # the torn delta's data is on disk but unmarked — invisible
    v1 = ist.resolve_index_path(root)
    assert glob.glob(os.path.join(v1, table, "delta=1", "*"))
    assert _ndeltas(v1) == 0
    assert _rows(serve(spark, read(spark, root))) == pre

    # the retry lands as delta=2 and serves like a live rebuild
    monkeypatch.setattr(ist, "commit_delta", real_commit)
    append(spark, root, frame(spark, new_ids))
    assert _ndeltas(v1) == 1
    served = _rows(serve(spark, read(spark, root)))
    assert served == _rows(serve(spark, build(frame(spark,
                                                    base_ids | new_ids))))
    assert served != pre

    # an indexed id re-ingested: loud, and no delta is published
    with pytest.raises(ValueError, match=f"{family}_append_index"):
        append(spark, root, frame(spark, {3, 12}))
    assert _ndeltas(v1) == 1


def test_bm25_over_budget_write_derives_from_written_postings(
        spark, tmp_path, monkeypatch):
    # a parquet-backed corpus carries real size statistics, so a zero
    # budget refuses the pin (driver-created frames report Long.Max and
    # count as bounded)
    src = str(tmp_path / "docs")
    _text(spark, set(range(1, 13))).write.parquet(src)
    index = R.bm25_build_index(spark.read.parquet(src), n_buckets=8)

    pins = []
    real_pin = type(index.postings).localCheckpoint

    def spy(self, *a, **k):
        pins.append(self)
        return real_pin(self, *a, **k)

    monkeypatch.setattr(type(index.postings), "localCheckpoint", spy)
    monkeypatch.setenv("SPARK_GRAFT_WRITE_PIN_BUDGET", "0")
    assert not R._pin_budget_ok(index.postings)
    seq_root = str(tmp_path / "sequential")
    R.write_bm25_index(index, seq_root)
    assert pins == []                        # the sequential branch ran

    monkeypatch.delenv("SPARK_GRAFT_WRITE_PIN_BUDGET")
    assert R._pin_budget_ok(index.postings)
    pin_root = str(tmp_path / "pinned")
    R.write_bm25_index(index, pin_root)
    assert len(pins) == 1                    # the pinned branch ran

    seq, pin = R.read_bm25_index(spark, seq_root), \
        R.read_bm25_index(spark, pin_root)
    for t in ("postings", "token_df", "stats"):
        assert _rows(getattr(seq, t)) == _rows(getattr(pin, t))
    q = _bm25_queries(spark)
    assert _rows(R.bm25_topk_from_index(seq, q, top_k=5)) == \
        _rows(R.bm25_topk_from_index(pin, q, top_k=5))
    live = R.bm25_topk(_text(spark, set(range(1, 13))), q, top_k=5)
    assert _rows(R.bm25_topk_from_index(seq, q, top_k=5)) == _rows(live)
