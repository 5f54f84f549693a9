"""``curation``: build-once/probe-many curation sessions over a corpus
hosted in a feature layer. The loopback layer
(``sources.http_mock.serve_layer``) runs in a child process with a
transfer cap below the reader's page size, so every page window needs the
client's in-window paging loop; Spark runs ``local[N]``, so at most N
connections are open at once. Each round is one session:

1. the corpus is pulled with a filtered, projected ``read_paged``;
2. ``simhash_band_pairs`` -> ``kcore`` -> ``connected_components``, and the
   corpus deduplicated to one document per component is written to a
   catalog;
3. ``substring_dup_spans`` and ``tfidf`` over the deduplicated corpus;
4. LSH and IVF-PQ index builds;

then an arriving batch (fresh documents plus planted copies of corpus
documents) is upserted to the layer with ``write_paged`` +
``HttpEditsSink``, pulled back with a filtered, projected ``read_paged``,
probed with ``probe_lsh_index`` and appended with ``append_lsh_index``;
vectors perturbed from the corpus go through ``probe_ivfpq_index`` and
``append_ivfpq_index``. Loads ``paged``, ``dedup``, ``similarity`` and
``textops``; the catalog holds only the corpus and index tables.
"""

from __future__ import annotations

import os
from collections import Counter, defaultdict

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from agol_pandas_spark.catalog import Catalog
from agol_pandas_spark.operators.dedup import (
    append_lsh_index,
    connected_components,
    kcore,
    probe_lsh_index,
    simhash_band_pairs,
    substring_dup_spans,
    write_lsh_index,
)
from agol_pandas_spark.operators.similarity import (
    append_ivfpq_index,
    pq_codebook_from_seeds,
    probe_ivfpq_index,
    write_ivfpq_index,
)
from agol_pandas_spark.operators.textops import tfidf
from agol_pandas_spark.sources.http_client import HttpEditsSink, HttpPagedClient
from agol_pandas_spark.sources.paged import read_paged, write_paged
from perfbench import gen
from perfbench.harness import check, dir_bytes, materialize
from perfbench.layer_server import LayerService

N_DOCS = 1_500
N_FAMILIES = 30  # planted near-duplicate families (3 documents each)
N_VECS = 1_500
N_PIVOTS = 30  # IVF cells
M_SUBSPACES = 16  # PQ subspaces (4 dimensions each)
K_CODES = 64  # PQ codes per subspace
PAGE_SIZE = 1_000  # reader window
TRANSFER_CAP = 400  # service maxRecordCount, below PAGE_SIZE
UPLOAD_PAGE = 100  # rows per applyEdits call
BATCH_FRESH = 80
BATCH_COPIES = 10
BATCH_VECS = 60
SUBSTR_K = 5
IDF_SCALE = 1_000_000
#: recall@10 of IVF-PQ (seeded, untrained codebook; 3 of 30 cells
#: probed) against exact inner-product top-10 on unit vectors measures
#: 0.35-0.45 on these inputs; a random pick among the probed cells' ~150
#: candidates would score about 0.05
RECALL_FLOOR = 0.25
#: the warm-up session runs every step once, on the first 1/WARMUP_SHRINK
#: of the corpus (a filtered pull) and without output checks
WARMUP_SHRINK = 5


def _write_files(table, path: str, parts: int) -> None:
    """One Parquet file per core, so scans plan one task per core."""
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part{i}.parquet"))


def union_find(pairs) -> dict:
    """node -> smallest node id of its connected component."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def peel(pairs, k: int) -> dict:
    """node -> degree inside the ``k``-core of the undirected pair graph."""
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    changed = True
    while changed:
        changed = False
        for n in [n for n, nb in adj.items() if len(nb) < k]:
            for m in adj.pop(n):
                if m in adj:
                    adj[m].discard(n)
            changed = True
    return {n: len(nb) for n, nb in adj.items() if nb}


def dup_tokens(texts: dict, k: int) -> dict:
    """doc -> number of token positions inside word ``k``-grams that occur
    at least twice in the corpus."""
    grams = {d: [tuple(t.split()[i : i + k]) for i in range(len(t.split()) - k + 1)]
             for d, t in texts.items()}
    counts = Counter(g for gs in grams.values() for g in gs)
    out = {}
    for d, gs in grams.items():
        covered = set()
        for i, g in enumerate(gs):
            if counts[g] >= 2:
                covered.update(range(i, i + k))
        out[d] = len(covered)
    return out


def tfidf_rows(texts: dict, n_docs: int) -> set:
    """``(doc, token, tf, df, score_scaled)`` with the engine's integer idf."""
    tf = {d: Counter(t.lower().split()) for d, t in texts.items()}
    df = Counter(tok for c in tf.values() for tok in c)
    return {
        (d, tok, n, df[tok], n * ((n_docs * IDF_SCALE) // df[tok]))
        for d, c in tf.items()
        for tok, n in c.items()
    }


def _arrow_rows(df, cols) -> list[tuple]:
    t = df.select(*cols).toArrow()
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


class Curation:
    name = "curation"
    period = 1
    min_rounds = 1

    def __init__(self):
        self.layer = None

    def setup(self, ctx) -> None:
        self.corpus = gen.documents(ctx.seed, 0, N_DOCS, N_FAMILIES)
        ids, texts = self.corpus["ids"], self.corpus["texts"]
        self.texts = dict(zip(ids.tolist(), texts))
        self.corpus_bytes = gen.doc_table(ids, texts).nbytes
        self.vecs = gen.vectors(ctx.seed, 0, N_VECS)
        rows = gen.doc_rows(ids, texts)
        for oid, row in enumerate(rows, start=1):
            row["OBJECTID"] = oid
        self.layer = LayerService(ctx.work, gen.DOC_FIELDS, rows, TRANSFER_CAP)
        self.stored = dict(self.texts)  # what the layer must hold: id -> text
        self._inodes: dict = {}
        self.bytes_written = 0
        self.user_bytes = 0
        self.on_disk = 0
        self.live = 0
        self._session(ctx, -1, warmup=True)
        self.counts0 = self.layer.counts()

    def round(self, ctx, r: int) -> None:
        self._session(ctx, r)

    def _pull(self, ctx, name: str, rows: int, where):
        """A filtered, projected paged read of the layer, persisted so
        later steps reuse it."""
        with ctx.op("read", name, rows):
            with ctx.span("paged.read_paged"):
                df = read_paged(
                    ctx.spark, HttpPagedClient(self.layer.url),
                    page_size=PAGE_SIZE, columns=["doc_id", "text"],
                )
                df = df.filter(where)
                with ctx.span("paged.read_paged.action"):
                    df = df.persist()
                    materialize(df)
        return df

    def _session(self, ctx, r: int, warmup: bool = False) -> None:
        spark, seed = ctx.spark, ctx.seed
        n_docs = N_DOCS // WARMUP_SHRINK if warmup else N_DOCS
        n_vecs = N_VECS // WARMUP_SHRINK if warmup else N_VECS
        root = os.path.join(ctx.work, f"session{r + 1}")
        inputs = os.path.join(root, "in")
        cat = Catalog(spark, os.path.join(root, "catalog"))
        self._inodes = {}
        vecs = self.vecs[:n_vecs]
        vec_tbl = gen.vec_table(np.arange(n_vecs), vecs)
        _write_files(vec_tbl, os.path.join(inputs, "vecs"), ctx.cpus)
        emb = spark.read.parquet(os.path.join(inputs, "vecs"))
        texts = {d: t for d, t in self.texts.items() if d < n_docs}
        user_bytes = self.corpus_bytes + vec_tbl.nbytes

        # 1. pull the hosted corpus (the layer also holds earlier batches)
        docs = self._pull(ctx, "paged.pull_corpus", n_docs, F.col("doc_id") < n_docs)
        if not warmup:
            with ctx.untimed():
                got = dict(_arrow_rows(docs, ["doc_id", "text"]))
                check(got == texts, f"session {r}: pulled corpus differs from the layer")

        # 2. near-duplicate graph -> clusters -> deduplicated corpus
        with ctx.op("read", "dedup.pairs", n_docs):
            with ctx.span("dedup.simhash_band_pairs"):
                pairs = simhash_band_pairs(docs, "doc_id", "text", max_hamming=3)
                with ctx.span("dedup.simhash_band_pairs.action"):
                    pairs = pairs.persist()
                    materialize(pairs)
        with ctx.op("read", "dedup.kcore", n_docs):
            with ctx.span("dedup.kcore"):
                core = kcore(pairs, "id_a", "id_b", k=2)
                with ctx.span("dedup.kcore.action"):
                    materialize(core)
        with ctx.op("read", "dedup.components", n_docs):
            with ctx.span("dedup.connected_components"):
                comps = connected_components(pairs, "id_a", "id_b")
                with ctx.span("dedup.connected_components.action"):
                    comps = comps.persist()
                    materialize(comps)
        kept = docs.join(comps, docs.doc_id == comps.node, "left").filter(
            F.col("component").isNull() | (F.col("component") == F.col("doc_id"))
        ).select("doc_id", "text")
        with ctx.op("write", "catalog.corpus", n_docs):
            with ctx.span("catalog.write"):
                cat.write(kept, "corpus")
        self._account(ctx, cat)
        with ctx.untimed():
            kept_ids = {row[0] for row in _arrow_rows(cat.table("corpus"), ["doc_id"])}
            if not warmup:
                got_pairs = _arrow_rows(pairs, ["id_a", "id_b"])
                self._check_graph(texts, got_pairs, core, comps, kept_ids)
        pairs.unpersist()
        comps.unpersist()
        docs.unpersist()

        # 3. substring census and TF-IDF over the deduplicated corpus
        n_kept = len(kept_ids)
        with ctx.op("read", "dedup.substrings", n_kept):
            with ctx.span("dedup.substring_dup_spans"):
                spans = substring_dup_spans(cat.table("corpus"), "doc_id", "text", k=SUBSTR_K)
                with ctx.span("dedup.substring_dup_spans.action"):
                    spans = spans.persist()  # the check reads the same rows
                    materialize(spans)
        with ctx.op("read", "textops.tfidf", n_kept):
            with ctx.span("textops.tfidf"):
                scores = tfidf(
                    cat.table("corpus"), "doc_id", "text",
                    idf_scale=IDF_SCALE, n_docs=cat.row_count("corpus"),
                )
                with ctx.span("textops.tfidf.action"):
                    scores = scores.persist()
                    materialize(scores)
        if not warmup:
            with ctx.untimed():
                kept_texts = {d: texts[d] for d in kept_ids}
                want = dup_tokens(kept_texts, SUBSTR_K)
                got = dict(_arrow_rows(spans, ["doc_id", "dup_tokens"]))
                check(got == want, f"session {r}: substring_dup_spans dup_tokens differ")
                got_tf = set(
                    _arrow_rows(scores, ["doc_id", "token", "tf", "df", "score_scaled"])
                )
                check(
                    got_tf == tfidf_rows(kept_texts, n_kept),
                    f"session {r}: tfidf rows differ from the reference",
                )
        spans.unpersist()
        scores.unpersist()

        # 4. index builds
        with ctx.op("write", "dedup.lsh_build", n_kept):
            with ctx.span("dedup.write_lsh_index"):
                write_lsh_index(cat, "lsh", cat.table("corpus"), "doc_id", "text")
        self._account(ctx, cat)
        pivots = emb.filter(F.col("vec_id") % (N_VECS // N_PIVOTS) == 0).select(
            F.col("vec_id").alias("pivot_id"), "embedding"
        )
        codebook = pq_codebook_from_seeds(
            emb, "vec_id", m_subspaces=M_SUBSPACES, k_codes=K_CODES
        )
        with ctx.op("write", "similarity.ivfpq_build", n_vecs):
            with ctx.span("similarity.write_ivfpq_index"):
                write_ivfpq_index(
                    cat, "ivf", emb, pivots, codebook,
                    corpus_id="vec_id", pivot_id="pivot_id",
                    m_subspaces=M_SUBSPACES, k_codes=K_CODES,
                )
        self._account(ctx, cat)

        # an arriving batch: upsert to the layer, pull back, probe, append
        singletons = [s for s in self.corpus["singletons"] if s in kept_ids]
        id_base = 10_000_000 * (r + 2)
        batch = gen.arriving_docs(
            seed, r + 1, 0, self.corpus["ids"], self.corpus["texts"], singletons,
            BATCH_FRESH, BATCH_COPIES, id_base=id_base,
        )
        b_tbl = gen.doc_table(batch["ids"], batch["texts"])
        qv = gen.perturbed(seed, r + 1, 0, vecs, BATCH_VECS)
        q_tbl = gen.vec_table(np.arange(BATCH_VECS) + n_vecs, qv)
        _write_files(b_tbl, os.path.join(inputs, "batch"), ctx.cpus)
        _write_files(q_tbl, os.path.join(inputs, "qvec"), ctx.cpus)
        b_vecs = spark.read.parquet(os.path.join(inputs, "qvec"))
        user_bytes += b_tbl.nbytes + q_tbl.nbytes
        sink = HttpEditsSink(
            self.layer.url, field_names=list(gen.DOC_COLUMNS), key_field="doc_id"
        )
        with ctx.op("write", "paged.upload_batch", b_tbl.num_rows):
            with ctx.span("paged.write_paged"):
                write_paged(
                    spark.read.parquet(os.path.join(inputs, "batch")), sink,
                    page_size=UPLOAD_PAGE, batch_id_prefix=f"s{r + 1}-",
                )
        self.stored.update(zip(batch["ids"].tolist(), batch["texts"]))
        b_docs = self._pull(
            ctx, "paged.pull_batch", b_tbl.num_rows, F.col("doc_id") >= id_base
        )
        with ctx.op("read", "dedup.lsh_probe", b_tbl.num_rows):
            with ctx.span("dedup.probe_lsh_index"):
                cand = probe_lsh_index(cat, "lsh", b_docs, "doc_id", "text")
                with ctx.span("dedup.probe_lsh_index.action"):
                    cand = cand.persist()
                    materialize(cand)
        with ctx.op("read", "similarity.ivfpq_probe", BATCH_VECS):
            with ctx.span("similarity.probe_ivfpq_index"):
                top = probe_ivfpq_index(
                    cat, "ivf", b_vecs.withColumnRenamed("vec_id", "query_id"),
                    query_id="query_id", k=10, nprobe=3,
                )
                with ctx.span("similarity.probe_ivfpq_index.action"):
                    top = top.persist()
                    materialize(top)
        if not warmup:
            with ctx.untimed():
                got = dict(_arrow_rows(b_docs, ["doc_id", "text"]))
                check(
                    got == dict(zip(batch["ids"].tolist(), batch["texts"])),
                    f"session {r}: pulled batch differs from the upload",
                )
                found = set(_arrow_rows(cand, ["batch_id", "corpus_id"]))
                missed = [
                    (c, o) for c, o in batch["planted"].items() if (c, o) not in found
                ]
                check(not missed, f"session {r}: LSH probe missed planted copies {missed[:3]}")
                self._check_recall(r, top, qv, vecs, q_tbl)
        with ctx.op("write", "dedup.lsh_append", b_tbl.num_rows):
            with ctx.span("dedup.append_lsh_index"):
                append_lsh_index(cat, "lsh", b_docs, "doc_id", "text")
        self._account(ctx, cat)
        with ctx.op("write", "similarity.ivfpq_append", BATCH_VECS):
            with ctx.span("similarity.append_ivfpq_index"):
                append_ivfpq_index(cat, "ivf", b_vecs)
        self._account(ctx, cat)
        for df in (b_docs, cand, top):
            df.unpersist()

        if warmup:
            return
        with ctx.untimed():
            n_lsh = cat.table("lsh").select("doc_id").distinct().count()
            n_ivf = cat.table("ivf").count()
            check(
                n_lsh == n_kept + b_tbl.num_rows and n_ivf == n_vecs + BATCH_VECS,
                f"session {r}: index sizes {n_lsh}/{n_ivf} after the append",
            )
            if ctx.recording:
                self.user_bytes += user_bytes
                self.on_disk, _ = dir_bytes(cat.root)
                self.live = sum(
                    dir_bytes(cat.path(t))[0] for t in cat.list_tables()
                )

    def _account(self, ctx, cat) -> None:
        """Add the bytes of catalog files created since the last call."""
        with ctx.untimed():
            _, now = dir_bytes(cat.root)
            if ctx.recording:
                self.bytes_written += sum(
                    sz for ino, sz in now.items() if ino not in self._inodes
                )
            self._inodes = now

    def _check_graph(self, texts, pairs, core, comps, got_kept) -> None:
        check(all(a < b for a, b in pairs), "simhash pairs not ordered id_a < id_b")
        pair_set = set(pairs)
        for fam in self.corpus["families"]:
            for x in fam:
                for y in fam:
                    if x < y and texts[x] == texts[y]:
                        check((x, y) in pair_set, f"planted duplicate pair {(x, y)} not found")
        want_core = peel(pairs, 2)
        got_core = dict(_arrow_rows(core, ["node", "core_degree"]))
        check(got_core == want_core, "kcore differs from the reference peeling")
        want_cc = union_find(pairs)
        got_cc = dict(_arrow_rows(comps, ["node", "component"]))
        check(got_cc == want_cc, "connected_components differs from union-find")
        kept = {d for d in texts if want_cc.get(d, d) == d}
        check(got_kept == kept, "deduplicated corpus differs from the reference")

    def _check_recall(self, r, top, qv, base, q_tbl) -> None:
        got = defaultdict(set)
        for q, c in _arrow_rows(top, ["query_id", "vec_id"]):
            got[q].add(c)
        qids = q_tbl.column("vec_id").to_pylist()
        exact = np.argsort(-(qv @ base.T), axis=1)[:, :10]
        hits = sum(len(got[q] & set(exact[i].tolist())) for i, q in enumerate(qids))
        recall = hits / (10 * len(qids))
        check(recall >= RECALL_FLOOR, f"session {r}: IVF-PQ recall@10 {recall:.3f} < {RECALL_FLOOR}")

    def finish(self, ctx) -> dict:
        counts = self.layer.counts()
        store = self.layer.store()
        check(
            {row["doc_id"]: row["text"] for row in store} == self.stored
            and len(store) == len(self.stored),
            f"layer store differs from the expected documents: {len(store)} rows "
            f"vs {len(self.stored)}",
        )
        check(
            len({row["OBJECTID"] for row in store}) == len(store),
            "service assigned duplicate OBJECTIDs",
        )
        requests = counts["requests"] - self.counts0["requests"]
        useful = counts["useful"] - self.counts0["useful"]
        paged_ops = sum(1 for o in ctx.ops if o.name.startswith("paged."))
        return {
            "write_amp": self.bytes_written / self.user_bytes,
            "space_amp": self.on_disk / self.live,
            "counters": {
                "paged.wire_calls": requests / paged_ops,
                "paged.wire_calls_per_page": requests / useful,
            },
        }

    def close(self) -> None:
        if self.layer is not None:
            self.layer.close()
