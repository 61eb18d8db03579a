"""Ops of the ``index_lifecycle`` workload: a BM25 index (``retrieval``),
a MinHash-LSH index (``dedup``) and an IVF-PQ index (``similarity``), each
persisted through ``index_store``, then fed delta appends (writes)
interleaved with top-k serves and probes (reads), and compacted every
``APPENDS_PER_COMPACT`` appends.

The corpus splits by id: ids below ``base`` are the initial build, then
fixed-size delta batches in id order.  Serve queries and LSH probes come
from a held-out id range that is never indexed.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import orange3_timeseries_spark.operators.dedup as D
import orange3_timeseries_spark.operators.similarity as S
from orange3_timeseries_spark.operators import retrieval as R
from orange3_timeseries_spark.operators.index_store import (
    index_info,
    vacuum_index,
)
from orange3_timeseries_spark.operators.text import tokens_expr

N_DOCS, BASE_DOCS, DOC_DELTA, DOC_HELD_OUT = 4200, 200, 50, 200
N_VECS, BASE_VECS, VEC_DELTA, VEC_HELD_OUT = 2200, 100, 25, 200
APPENDS_PER_COMPACT = 2
TOP_K, NPROBE, LSH_THRESHOLD = 5, 4, 0.2


class Family:
    """One index family: how to build, append, serve and compact it, and
    how to serve the same request from a live rebuild."""

    def __init__(self, layer, table, id_col, base, delta, held_out, total,
                 n_requests):
        self.layer, self.table, self.id_col = layer, table, id_col
        self.base, self.delta = base, delta
        self.held_out_lo = total - held_out
        self.max_appends = (self.held_out_lo - base) // delta
        self.n_requests = n_requests

    def delta_bounds(self, k: int):
        lo = self.base + k * self.delta
        return lo, lo + self.delta


class Bm25(Family):
    def __init__(self):
        super().__init__("retrieval", "documents", "doc_id", BASE_DOCS,
                         DOC_DELTA, DOC_HELD_OUT, N_DOCS, DOC_HELD_OUT // 10)

    def requests(self, df):
        return (df.where(F.col("doc_id") >= self.held_out_lo)
                .where(F.col("doc_id") % 10 == 0)
                .select(F.col("doc_id").alias("query_id"),
                        F.array_join(F.slice(tokens_expr(F.col("text")), 1,
                                             6), " ").alias("text")))

    def build(self, docs):
        return R.bm25_build_index(docs)

    write = staticmethod(R.write_bm25_index)
    read = staticmethod(R.read_bm25_index)
    append = staticmethod(R.bm25_append_index)
    compact = staticmethod(R.compact_bm25_index)

    def serve(self, index, req):
        return R.bm25_topk_from_index(index, req, top_k=TOP_K)

    def live(self, corpus, req):
        return R.bm25_topk(corpus, req, top_k=TOP_K)


class Lsh(Family):
    def __init__(self):
        super().__init__("dedup", "documents", "doc_id", BASE_DOCS,
                         DOC_DELTA, DOC_HELD_OUT, N_DOCS, DOC_HELD_OUT)

    def requests(self, df):
        return df.where(F.col("doc_id") >= self.held_out_lo)

    def build(self, docs):
        return D.lsh_build_index(docs)

    write = staticmethod(D.write_lsh_index)
    read = staticmethod(D.read_lsh_index)
    append = staticmethod(D.lsh_append_index)
    compact = staticmethod(D.compact_lsh_index)

    def serve(self, index, req):
        return D.lsh_probe_index(index, req, threshold=LSH_THRESHOLD)

    def live(self, corpus, req):
        return self.serve(D.lsh_build_index(corpus), req)


class IvfPq(Family):
    """IVF-PQ with the registry queries' deterministic seed models: the
    first 16 vectors are the coarse centroids, their 8-wide slices the
    PQ codebooks."""

    def __init__(self):
        super().__init__("similarity", "embeddings", "vec_id", BASE_VECS,
                         VEC_DELTA, VEC_HELD_OUT, N_VECS, VEC_HELD_OUT // 10)
        self.centroids = self.books = None

    def requests(self, df):
        return (df.where(F.col("vec_id") >= self.held_out_lo)
                .where(F.col("vec_id") % 10 == 0)
                .select(F.col("vec_id").alias("query_id"), "embedding"))

    def build(self, vecs):
        if self.centroids is None:
            rows = (vecs.where(F.col("vec_id") < 16).orderBy("vec_id")
                    .select("embedding").collect())
            self.centroids = [[float(x) for x in r.embedding] for r in rows]
            self.books = [[c[m * 8:(m + 1) * 8] for c in self.centroids]
                          for m in range(8)]
        return S.ivfpq_build_index(vecs, self.centroids, self.books)

    write = staticmethod(S.write_ivfpq_index)
    read = staticmethod(S.read_ivfpq_index)
    append = staticmethod(S.ivfpq_append_index)
    compact = staticmethod(S.compact_ivfpq_index)

    def serve(self, index, req):
        return S.ivfpq_topk_from_index(index, req, k=TOP_K, nprobe=NPROBE)

    def live(self, corpus, req):
        return self.serve(self.build(corpus), req)


FAMILIES = (Bm25, Lsh, IvfPq)


class Lifecycle:
    """The persisted indexes of one run under ``root``, and the ops the
    workload times on them.  Every call into a layer goes through the
    context's tracer."""

    def __init__(self, ctx, root: str, payload: dict):
        self.c = ctx
        self.root = root
        self.payload = payload          # table -> {id: user bytes}
        self.fams = [f() for f in FAMILIES]
        self.tables = {t: ctx.read(t) for t in ("documents", "embeddings")}
        self.appended = {f.layer: 0 for f in self.fams}
        self.ingested_bytes = 0

    def path(self, fam: Family) -> str:
        return os.path.join(self.root, fam.layer)

    def _rows(self, fam, lo, hi):
        df = self.tables[fam.table]
        return df.where((F.col(fam.id_col) >= lo) & (F.col(fam.id_col) < hi))

    def _user_bytes(self, fam, lo, hi) -> int:
        ids = self.payload[fam.table]
        return sum(ids[i] for i in range(lo, hi))

    def corpus(self, fam):
        return self._rows(fam, 0, fam.base
                          + self.appended[fam.layer] * fam.delta)

    # -------------------------------------------------------------- ops
    def build(self, fam) -> int:
        """Initial build + versioned write; returns input rows."""
        tr = self.c.tr
        index = tr.call(fam.layer + ".build", fam.build,
                        self._rows(fam, 0, fam.base))
        tr.call(fam.layer + ".write", fam.write, index, self.path(fam))
        self.ingested_bytes += self._user_bytes(fam, 0, fam.base)
        return fam.base

    def can_append(self, fam) -> bool:
        return self.appended[fam.layer] < fam.max_appends

    def append(self, fam) -> int:
        lo, hi = fam.delta_bounds(self.appended[fam.layer])
        self.c.tr.call(fam.layer + ".append", fam.append, self.c.spark,
                       self.path(fam), self._rows(fam, lo, hi))
        self.appended[fam.layer] += 1
        self.ingested_bytes += self._user_bytes(fam, lo, hi)
        return hi - lo

    def serve_df(self, fam):
        tr = self.c.tr
        index = tr.call(fam.layer + ".read", fam.read, self.c.spark,
                        self.path(fam))
        req = fam.requests(self.tables[fam.table])
        return tr.call(fam.layer + ".serve_construct", fam.serve, index, req)

    def serve(self, fam):
        """Serve the family's request batch; returns (input rows, df)."""
        df = self.serve_df(fam)
        self.c.tr.call(fam.layer + ".serve_exec",
                       df.write.format("noop").mode("overwrite").save)
        return fam.n_requests, df

    def compact(self, fam) -> int:
        """Rewrite the current generation and drop the old one."""
        def run():
            fam.compact(self.c.spark, self.path(fam))
            vacuum_index(self.path(fam), keep_last=1)
        self.c.tr.call(fam.layer + ".compact", run)
        return fam.base + self.appended[fam.layer] * fam.delta

    def live_deltas(self) -> int:
        return sum(len(index_info(self.path(f))["committed_deltas"])
                   for f in self.fams)

    def check(self, fam, served_hash, rows_hash) -> str | None:
        """A served result's hash vs. the same request on a live rebuild
        over the current corpus; None when they are equal."""
        req = fam.requests(self.tables[fam.table])
        live = rows_hash(fam.live(self.corpus(fam), req).collect())
        if served_hash != live:
            return f"{fam.layer}: served top-k differs from a live rebuild"
        return None


def payload_bytes(data_dir: str) -> dict:
    """User bytes per row: UTF-8 text + 8-byte id for documents, float32
    components + 8-byte id for embeddings."""
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"),
                         columns=["doc_id", "text"]).to_pydict()
    vecs = pq.read_table(os.path.join(data_dir, "embeddings.parquet"),
                         columns=["vec_id", "embedding"]).to_pydict()
    return {
        "documents": {i: len(t.encode()) + 8
                      for i, t in zip(docs["doc_id"], docs["text"])},
        "embeddings": {i: 4 * len(e) + 8
                       for i, e in zip(vecs["vec_id"], vecs["embedding"])},
    }


class StoreMeter:
    """Bytes and files written under the index root, by walking it after
    each op (outside the op's timer)."""

    def __init__(self, root: str):
        self.root = root
        self.seen: dict = {}
        self.bytes_written = 0
        self.files_written = 0

    def scan(self) -> int:
        """Account files new or changed since the last scan; returns the
        bytes written since then."""
        now = {}
        for d, _dirs, files in os.walk(self.root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                now[p] = (st.st_size, st.st_mtime_ns)
        written = 0
        for p, sig in now.items():
            if self.seen.get(p) != sig:
                written += sig[0]
                self.files_written += 1
        self.seen = now
        self.bytes_written += written
        return written

    def on_disk(self) -> int:
        return sum(size for size, _ in self.seen.values())
