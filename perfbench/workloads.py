"""The two workloads. Each is a closed loop with one writer or client in
this process, driving the package's public entry points on inputs that
:mod:`perfbench.gen` writes under the run's work directory.

A workload function takes a :class:`Ctx` and returns a :class:`Result`.
It does its own setup (inputs, stores, untimed warm-up) and reports
the setup time; session start is timed by the caller. Every operation
an end-to-end metric times runs alone, with nothing else of the
benchmark beside it, after :func:`settle` (once per stretch of reads).
With a tracer, some operations run traced and others of the same kind
untraced: per-layer numbers come from the traced ones, and traced
against untraced operations of one kind give the tracing overhead.
"""

from __future__ import annotations

import datetime as dt
import gc
import glob
import math
import os
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from dataclasses import dataclass, field

from . import gen
from .trace import Tracer, spark_totals


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str
    tracer: Tracer | None = None


@dataclass
class Result:
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    setup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    store_dirs: list[str] = field(default_factory=list)
    #: (span, op wall seconds) of traced Spark operations, for per-op
    #: Spark metrics
    traced_ops: list = field(default_factory=list)
    #: op kind -> traced? -> op wall times, for the tracing overhead
    op_walls: dict[str, dict[bool, list[float]]] = field(default_factory=dict)
    #: per-layer metrics that need the event log: ``post(by_span)``
    #: runs after the session stopped, with jobs attributed to spans
    post: object = None

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", file=sys.stderr)

    def op_failed(self, what: str) -> None:
        self.failed += 1
        print(f"OP FAILED: {what}\n{traceback.format_exc()}", file=sys.stderr)

    def op_wall(self, kind: str, traced: bool, wall: float) -> None:
        self.op_walls.setdefault(kind, {True: [], False: []})[traced].append(wall)

    def overhead(self) -> float | None:
        """Median over op kinds of (median traced op ÷ median untraced
        op of that kind) − 1; None without both halves of any kind."""
        ratios = [median(w[True]) / median(w[False])
                  for w in self.op_walls.values() if w[True] and w[False]]
        return median(ratios) - 1.0 if ratios else None


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def settle(spark) -> None:
    """Untimed, right before a timed operation: collect garbage in this
    process and in the JVM, so no collection owed by earlier work lands
    inside the timing."""
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def _sum_named(tracer: Tracer, root: dict, name: str) -> float:
    ids = tracer.subtree(root)
    return sum(tracer.duration(s) for s in tracer.spans if s["name"] == name and s["id"] in ids)


def _side_by_side(tracer: Tracer | None, parent: dict | None, *calls):
    """Run ``calls`` on one thread each and return their results; spans
    they open nest under ``parent``."""

    def run(call):
        with tracer.adopt(parent) if tracer is not None else nullcontext():
            return call()

    with ThreadPoolExecutor(len(calls)) as pool:
        futures = [pool.submit(run, call) for call in calls]
        return [f.result() for f in futures]


# --------------------------------------------------------------------------
# cdw_ingest — the paper's dataflow (CdwDaemon.tick)
# --------------------------------------------------------------------------


class TimedExtractor:
    """Extractor wrapper passed through ``CdwDaemon(extractor=...)`` in
    the traced run. It runs inside the Python workers, so it appends
    ``seconds`` per call to a per-process file the benchmark process sums
    after the run."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir

    def __call__(self, filename: str, data: bytes) -> str:
        from data_engineer_challenge_spark.sources.extractors import extract_text

        t = time.perf_counter()
        text = extract_text(filename, data)
        spent = time.perf_counter() - t
        with open(os.path.join(self.out_dir, f"{os.getpid()}.txt"), "a") as fh:
            fh.write(f"{spent:.9f}\n")
        return text

    def totals(self) -> tuple[float, int]:
        spent, n = 0.0, 0
        for path in glob.glob(os.path.join(self.out_dir, "*.txt")):
            with open(path) as fh:
                vals = [float(x) for x in fh.read().split()]
            spent += sum(vals)
            n += len(vals)
        return spent, n


class CdwInputs:
    """The drop directory and registry as the daemon sees them, plus
    what the warehouse must end up holding."""

    def __init__(self, seed: int, root: str, n_patients: int):
        self.seed = seed
        self.reg_path = os.path.join(root, "registry", "export_patient.xlsx")
        self.docs_dir = os.path.join(root, "docs")
        os.makedirs(os.path.dirname(self.reg_path), exist_ok=True)
        os.makedirs(self.docs_dir, exist_ok=True)
        self.rows, _ = gen.registry_rows(seed, n_patients)
        self.r = gen.rng(seed, "drops")
        self.n_edits = 0
        self.next_doc = 0
        #: filename -> (orphan, DOCUMENT_DATE, AUTHOR, version)
        self.docs: dict[str, tuple[bool, str, str | None, int]] = {}
        self._refresh_kept()
        self.write_registry()

    def _refresh_kept(self) -> None:
        seen, kept = set(), []
        for row in self.rows[1:]:
            key = (row[0], row[1], row[2], row[6], row[7])
            if key not in seen:
                seen.add(key)
                kept.append(row[5])
        self.kept_ipps = kept
        self.all_ipps = {row[5] for row in self.rows[1:]}

    def write_registry(self) -> int:
        data = gen.xlsx_bytes(self.rows)
        gen.write_file(self.reg_path, data)
        return len(data)

    def edit_registry(self, n_new: int) -> int:
        self.n_edits += 1
        self.rows = gen.registry_edit(self.seed, self.rows, self.n_edits, n_new)
        self._refresh_kept()
        return self.write_registry()

    def _write_doc(self, name: str, version: int, orphan: bool) -> int:
        ipp, rest = name.split("_", 1)
        doc_id, ext = rest.split(".")
        data, date, author = gen.note_file(self.seed, ipp, doc_id, ext, version)
        gen.write_file(os.path.join(self.docs_dir, name), data)
        self.docs[name] = (orphan, date, author, version)
        return len(data)

    def drop_new(self, n: int) -> int:
        """``n`` new notes, ~2 % with an IPP no patient has; 3:1 pdf:docx."""
        size = 0
        for _ in range(n):
            k = self.next_doc
            self.next_doc += 1
            orphan = self.r.random() < 0.02
            if orphan:
                ipp = f"99{k:06d}"
                while ipp in self.all_ipps:
                    ipp = f"{self.r.randrange(10**7, 10**8)}"
            else:
                ipp = self.r.choice(self.kept_ipps)
            ext = "docx" if k % 4 == 3 else "pdf"
            size += self._write_doc(f"{ipp}_{k:07d}.{ext}", 0, orphan)
        return size

    def drop_modified(self, n: int) -> int:
        """Re-drop ``n`` existing matched notes with new content."""
        names = sorted(f for f, v in self.docs.items() if not v[0])
        size = 0
        for name in self.r.sample(names, min(n, len(names))):
            size += self._write_doc(name, self.docs[name][3] + 1, False)
        return size


def cdw_ingest(ctx: Ctx) -> Result:
    from data_engineer_challenge_spark.operators.merge import ParquetWarehouse
    from data_engineer_challenge_spark.streaming import daemon as daemon_mod
    from data_engineer_challenge_spark.streaming import snapshot_diff

    res = Result()
    tr = ctx.tracer
    n_new, n_mod = 60, 6  # new and re-dropped notes per tick
    t0 = time.perf_counter()
    root = os.path.join(ctx.work, "cdw")
    wh_root = os.path.join(root, "warehouse")
    inputs = CdwInputs(ctx.seed, root, 3000)
    inputs.drop_new(500)
    extractor = None
    if tr is not None:
        extractor = TimedExtractor(os.path.join(ctx.work, "extract_times"))
        os.makedirs(extractor.out_dir, exist_ok=True)
        tr.wrap(daemon_mod.CdwDaemon, "tick", "daemon.tick")
        tr.wrap(snapshot_diff.SnapshotState, "peek", "snapshot_diff.peek")
        tr.wrap(daemon_mod, "read_patient_registry", "sources.read_patient_registry")
        tr.wrap(daemon_mod, "read_binary_documents", "sources.read_binary_documents")
        tr.wrap(daemon_mod, "extract_documents", "sources.extract_documents")
        tr.wrap(daemon_mod, "run_patient_batch", "pipeline.run_patient_batch")
        tr.wrap(daemon_mod, "run_document_batch", "pipeline.run_document_batch")
        tr.wrap(ParquetWarehouse, "merge_upsert", "merge.merge_upsert")
    kwargs = {} if extractor is None else {"extractor": extractor}
    daemon = daemon_mod.CdwDaemon(
        ctx.spark, wh_root, inputs.reg_path, inputs.docs_dir, changed_only=True, **kwargs
    )
    res.setup_s = time.perf_counter() - t0
    res.store_dirs = [wh_root]

    # first tick: the initial load (timed on its own)
    settle(ctx.spark)
    t = time.perf_counter()
    daemon.tick()
    res.e2e["first_op_s"] = time.perf_counter() - t
    res.attempted += 1
    initial_nums = {
        (r["PATIENT_NUM"], r["ID_DOC_SOURCE"]): r["DOCUMENT_NUM"]
        for r in daemon.wh.read("DWH_DOCUMENT")
        .select("PATIENT_NUM", "ID_DOC_SOURCE", "DOCUMENT_NUM")
        .collect()
    }

    # fixed schedule of whole cycles of three ticks: a document-only
    # tick ("docs"), a tick whose drop also rewrites the registry
    # ("edit"), and another document-only tick. A traced run traces the
    # first two ticks of its cycle and leaves the third untraced, so the
    # docs kind has a traced and an untraced tick.
    schedule = ("docs", "edit", "docs")
    walls: dict[str, list[float]] = {"edit": [], "docs": []}
    traced_src_bytes = 0
    cycle = 0
    loop0 = time.perf_counter()
    # whole cycles: a traced run makes one; an untraced run starts
    # another only if, at the pace of the last, it ends within seconds
    while not res.failed and (cycle == 0 or tr is None and (
            time.perf_counter() - loop0) * (cycle + 1) / cycle < ctx.seconds):
        for j, kind in enumerate(schedule):
            traced = tr is not None and cycle == 0 and j < 2
            src_bytes = inputs.edit_registry(20) if kind == "edit" else 0
            src_bytes += inputs.drop_new(n_new) + inputs.drop_modified(n_mod)
            if tr is not None:
                tr.enabled = traced
            res.attempted += 1
            settle(ctx.spark)
            t = time.perf_counter()
            try:
                daemon.tick()
            except Exception:
                res.op_failed(f"cdw {kind} tick, cycle {cycle}")
                break
            wall = time.perf_counter() - t
            walls[kind].append(wall)
            res.op_wall(kind, traced, wall)
            if traced:
                res.traced_ops.append((tr.named("daemon.tick")[-1], wall))
                traced_src_bytes += src_bytes
        cycle += 1
    if tr is not None:
        tr.enabled = False
    ticks = walls["edit"] + walls["docs"]
    res.e2e["op_p50_ms"] = 1000.0 * median(walls["docs"])
    res.e2e["op_tail_ms"] = 1000.0 * max(ticks, default=0.0)
    res.e2e["items_per_s"] = len(ticks) * (n_new + n_mod) / sum(ticks) if ticks else 0.0

    # output checks (untimed)
    wh = daemon.wh
    n_pat = wh.read("DWH_PATIENT").count()
    res.check(n_pat == len(inputs.kept_ipps),
              f"DWH_PATIENT has {n_pat} rows, registry minus duplicates is {len(inputs.kept_ipps)}")
    rows = wh.read("DWH_DOCUMENT").select(
        "DOCUMENT_NUM", "PATIENT_NUM", "ID_DOC_SOURCE", "DOCUMENT_DATE", "AUTHOR"
    ).collect()
    nums = [r["DOCUMENT_NUM"] for r in rows]
    res.check(len(set(nums)) == len(nums), "DOCUMENT_NUM not unique")
    final_nums = {(r["PATIENT_NUM"], r["ID_DOC_SOURCE"]): r["DOCUMENT_NUM"] for r in rows}
    moved = [k for k, v in initial_nums.items() if final_nums.get(k) != v]
    res.check(not moved, f"{len(moved)} DOCUMENT_NUMs changed across re-drops")
    by_src = {r["ID_DOC_SOURCE"]: r for r in rows}
    matched = {f: v for f, v in inputs.docs.items() if not v[0]}
    res.check(len(rows) == len(matched), f"DWH_DOCUMENT has {len(rows)} rows, {len(matched)} matched notes dropped")
    wrong = []
    for name, (_, date, author, _) in matched.items():
        row = by_src.get(name.split("_", 1)[1].split(".")[0])
        want_date = dt.datetime.strptime(date, "%d/%m/%Y").date()
        if row is None or row["DOCUMENT_DATE"] != want_date or row["AUTHOR"] != author:
            wrong.append((name, row and (row["DOCUMENT_DATE"], row["AUTHOR"]), (want_date, author)))
    res.check(not wrong, f"{len(wrong)} notes with wrong DOCUMENT_DATE/AUTHOR, e.g. {wrong[:3]}")
    orphans = {f for f, v in inputs.docs.items() if v[0]}
    quarantined = {r["filename"] for r in wh.read("QUARANTINE_DOCUMENTS").select("filename").collect()} \
        if wh.exists("QUARANTINE_DOCUMENTS") else set()
    res.check(quarantined == orphans,
              f"quarantine holds {len(quarantined)} files, {len(orphans)} orphans dropped")

    if tr is not None:
        # per traced incremental tick: one of each kind
        ops = [op for op, _ in res.traced_ops]
        first = tr.named("daemon.tick")[0]
        res.layer["daemon.tick_self_s"] = median(tr.self_time(op) for op in ops)
        res.layer["snapshot_diff.peek_s"] = median(_sum_named(tr, op, "snapshot_diff.peek") for op in ops)
        res.layer["sources.registry_parse_s"] = _sum_named(tr, first, "sources.read_patient_registry")
        spent, n = extractor.totals()
        res.layer["sources.extract_ms_per_doc"] = 1000.0 * spent / max(n, 1)
        res.layer["pipeline.patient_batch_s"] = _sum_named(tr, first, "pipeline.run_patient_batch")
        res.layer["pipeline.document_batch_s"] = median(
            _sum_named(tr, op, "pipeline.run_document_batch") for op in ops)
        res.layer["merge.upsert_s"] = median(_sum_named(tr, op, "merge.merge_upsert") for op in ops)

        def post(by_span):
            merges = [m for op in ops for m in tr.named("merge.merge_upsert")
                      if m["id"] in tr.subtree(op)]
            written = sum(spark_totals(tr, by_span, m)["output_bytes"] for m in merges)
            res.layer["merge.bytes_written_per_source_byte"] = written / max(traced_src_bytes, 1)

        res.post = post
        tables = [d for d in glob.glob(os.path.join(wh_root, "*")) if os.path.isdir(d)]
        files = [len(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)) for d in tables]
        res.layer["merge.files_per_table"] = sum(files) / max(len(files), 1)
    return res


# --------------------------------------------------------------------------
# curation_serving — the LLM-data tier: continuous curation over a
# SnapshotTable and sparkless point reads beside index ingest
# --------------------------------------------------------------------------


def _docs_df(spark, rows):
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["doc_id", "lang", "text"])
    return spark.createDataFrame(pdf, "doc_id long, lang string, text string")


def _vec_df(spark, seed: int, ids: range):
    import pandas as pd

    emb = gen.embeddings(seed, ids)
    pdf = pd.DataFrame({"vec_id": list(ids), "embedding": [list(map(float, v)) for v in emb]})
    return spark.createDataFrame(pdf, "vec_id long, embedding array<float>")


def _text_df(spark, seed: int, ids: range):
    import pandas as pd

    pdf = pd.DataFrame({"doc_id": list(ids), "text": [gen.serving_doc(seed, i) for i in ids]})
    return spark.createDataFrame(pdf, "doc_id long, text string")


STORES = ("text_index", "dedup_index", "ann_index")
_KIND_STORE = {"text": "text_index", "dedup": "dedup_index", "vector": "ann_index"}
IVF_ARGS = {"k": 10, "n_probe": 2, "shortlist": 60}


def curation_serving(ctx: Ctx) -> Result:
    from data_engineer_challenge_spark.operators.ann_index import IVFVectorIndex
    from data_engineer_challenge_spark.operators.dedup_index import MinHashIndex
    from data_engineer_challenge_spark.operators.snapshot import SnapshotTable
    from data_engineer_challenge_spark.operators.text_index import InvertedTextIndex
    from data_engineer_challenge_spark.plans import text as text_plans
    from data_engineer_challenge_spark.streaming import ingest

    res = Result()
    tr = ctx.tracer
    spark = ctx.spark
    seed = ctx.seed
    n_corpus = 6000  # curation corpus: 95 % loaded, then a 1.5 % delta
    n_base = n_corpus * 95 // 100
    n_delta = n_corpus * 15 // 1000
    n_total = 4000  # serving documents and vectors: 80 % indexed, then a slice
    n_indexed = n_total * 4 // 5
    slice_n = 100
    # three stretches of reads: before the curation bootstrap, between
    # it and the ingest op, and after the ingest op
    stretch_s = ctx.seconds / 3
    min_stretch_reads = 400
    held = range(n_indexed, n_total)

    t0 = time.perf_counter()
    root = os.path.join(ctx.work, "store")
    paths = {name: os.path.join(root, name) for name in STORES}
    state = os.path.join(root, "curation_state")
    corpus = SnapshotTable(spark, os.path.join(root, "corpus"))
    selection = SnapshotTable(spark, os.path.join(root, "selection"))
    base = _docs_df(spark, [gen.corpus_doc(seed, i) for i in range(n_base)])
    cents, books = gen.quantizer(seed, gen.embeddings(seed, range(n_indexed)))
    text_docs = _text_df(spark, seed, range(n_indexed))
    vec_docs = _vec_df(spark, seed, range(n_indexed))
    text_w = InvertedTextIndex(spark, paths["text_index"], t_buckets=16)
    dedup_w = MinHashIndex(spark, paths["dedup_index"])
    ann_w = IVFVectorIndex(spark, paths["ann_index"], cents, pq_codebooks=books)
    res.store_dirs = [root]
    # the serving tier's initial state: the three index builds, side by
    # side (set-up, untimed as an operation)
    _side_by_side(None, None, lambda: text_w.build(text_docs),
                  lambda: dedup_w.build(text_docs), lambda: ann_w.build(vec_docs))
    local = {
        "text_index": InvertedTextIndex.open_local(paths["text_index"]),
        "dedup_index": MinHashIndex.open_local(paths["dedup_index"]),
        "ann_index": IVFVectorIndex.open_local(paths["ann_index"]),
    }
    vectors = {}

    def vec(vid: int) -> list[float]:
        if vid not in vectors:
            vectors[vid] = [float(x) for x in gen.embeddings(seed, range(vid, vid + 1))[0]]
        return vectors[vid]

    def read(kind, q):
        if kind == "text":
            return local["text_index"].probe_local(q)
        if kind == "dedup":
            return local["dedup_index"].probe_local(q)
        return local["ann_index"].probe_local(vec(q), **IVF_ARGS)

    stream = gen.read_mix(seed, 3000, n_indexed, held)
    # untimed warm-up: reads of each kind load every store's cache
    for kind, q, _ in stream[-30:]:
        read(kind, q)
    if tr is not None:
        tr.wrap(SnapshotTable, "append", "snapshot.append")
        tr.wrap(SnapshotTable, "replace", "snapshot.replace")
        tr.wrap(ingest, "curation_refresh_delta_tick", "ingest.curation_refresh_delta_tick")
        for name, cls in (("text_index", InvertedTextIndex), ("dedup_index", MinHashIndex),
                          ("ann_index", IVFVectorIndex)):
            tr.wrap(cls, "probe_local", f"{name}.probe_local")
            tr.wrap(cls, "append", f"{name}.append")
            tr.wrap(cls, "maybe_compact", f"compaction.{name}.maybe_compact",
                    on_result=lambda rec, out: rec["attrs"].update(folds=out))
    res.setup_s = time.perf_counter() - t0

    def refresh():
        out = ingest.curation_refresh_delta_tick(spark, corpus, selection, state)
        if not out["fired"]:
            raise RuntimeError(f"curation tick did not fire: {out}")
        return out

    lat_ms: list[float] = []
    first_after: dict[str, list[float]] = {name: [] for name in STORES}
    files_read: list[int] = []
    hits_checked = hits_found = 0
    i = 0
    cpus = sorted(os.sched_getaffinity(0))

    def stretch(after_append: bool) -> None:
        """Reads in blocks of 100 until the stretch has lasted
        ``stretch_s`` (and read ``min_stretch_reads``). Each block runs
        this thread on the next CPU in turn, so every stretch samples
        all CPUs of the affinity set alike. Reads alternate traced and
        untraced."""
        nonlocal i, hits_checked, hits_found
        settle(spark)
        seen_kind: set[str] = set()
        n = 0
        start = time.perf_counter()
        try:
            while not res.failed and (n < min_stretch_reads or time.perf_counter() - start < stretch_s):
                os.sched_setaffinity(0, {cpus[(n // 100) % len(cpus)]})
                for _ in range(100):
                    kind, q, expect = stream[i % len(stream)]
                    traced = tr is not None and i % 2 == 0
                    i += 1
                    n += 1
                    if tr is not None:
                        tr.enabled = traced
                    res.attempted += 1
                    t = time.perf_counter()
                    try:
                        out = read(kind, q)
                    except Exception:
                        res.op_failed(f"{kind} read {i}")
                        return
                    ms = 1000.0 * (time.perf_counter() - t)
                    lat_ms.append(ms)
                    res.op_wall("read", traced, ms)
                    if after_append and kind not in seen_kind:
                        first_after[_KIND_STORE[kind]].append(ms)
                    seen_kind.add(kind)
                    if expect is not None:
                        hits_checked += 1
                        hits_found += expect in {d for d, _ in out}
        finally:
            os.sched_setaffinity(0, cpus)
            if tr is not None:
                tr.enabled = True

    stretch(False)

    # first op: the curation bootstrap — the corpus load, then the first
    # refresh, which scores the whole corpus (the batch shape)
    if not res.failed:
        settle(spark)
        res.attempted += 1
        t = time.perf_counter()
        try:
            corpus.append(base, txn="load-0")
            refresh()
        except Exception:
            res.op_failed("curation bootstrap")
        res.e2e["first_op_s"] = time.perf_counter() - t
        stretch(False)

    # one ingest op, its two halves side by side: the next 1.5 % of the
    # corpus is appended and curated, and a held-out slice goes into the
    # three index stores (append, then each store's maybe_compact); the
    # appends change the store fingerprints, so the next read of each
    # store reloads its cache
    if not res.failed:
        delta = _docs_df(spark, [gen.corpus_doc(seed, k) for k in range(n_base, n_base + n_delta)])
        ids = range(n_indexed, n_indexed + slice_n)
        tdf, vdf = _text_df(spark, seed, ids), _vec_df(spark, seed, ids)

        def curate():
            corpus.append(delta, txn="delta-1")
            return refresh()

        def index():
            text_w.append(tdf, txn="append-1")
            dedup_w.append(tdf)
            ann_w.append(vdf, ordinal=1)
            text_w.maybe_compact()
            dedup_w.maybe_compact()
            ann_w.maybe_compact()

        res.attempted += 1
        t = time.perf_counter()
        try:
            with tr.span("op.ingest") if tr is not None else nullcontext() as op:
                tick, _ = _side_by_side(tr, op, curate, index)
        except Exception:
            res.op_failed("ingest op")
        else:
            wall = time.perf_counter() - t
            if tr is not None:
                res.traced_ops.append((op, wall))
                files_read.append(len(tick["corpus_files"]))
            res.check(tick["docs_scored"] == n_delta,
                      f"ingest op scored {tick['docs_scored']} docs, delta is {n_delta}")
            stretch(True)
    if tr is not None:
        tr.enabled = False

    res.e2e["op_p50_ms"] = median(lat_ms)
    res.e2e["op_tail_ms"] = percentile_with_tail(lat_ms, 10)
    res.e2e["items_per_s"] = 1000.0 * len(lat_ms) / sum(lat_ms) if lat_ms else 0.0
    res.check(hits_found == hits_checked,
              f"planted near-dup hits found {hits_found} of {hits_checked}")

    # output checks (untimed), at the final state: probe_local answers
    # equal the Spark probes on a sample, and the committed selection
    # equals the batch curation_funnel over the corpus (the tick's own
    # contract), both compared as committed SnapshotTable versions
    sample = {kind: [q for k, q, _ in stream[:60] if k == kind][:2] for kind in _KIND_STORE}

    def spark_text():
        q = sample["text"][0]
        return [(r["doc_id"], r["score"], r["rank"])
                for r in text_w.probe(q).orderBy("rank").collect()]

    def spark_dedup():
        batch = spark.createDataFrame(list(enumerate(sample["dedup"])), "doc_id long, text string")
        want: dict = {}
        for r in dedup_w.probe(batch).collect():
            want.setdefault(r["new_id"], set()).add((r["dup_of"], r["jaccard"]))
        dedup_w.release()
        return want

    def spark_vector():
        batch = spark.createDataFrame([(j, vec(q)) for j, q in enumerate(sample["vector"])],
                                      "q_id long, embedding array<float>")
        want: dict = {}
        for r in ann_w.probe_adc(batch, **IVF_ARGS).collect():
            want.setdefault(r["q_id"], []).append((r["rank"], r["c_id"], r["cos_sim"]))
        return {j: [(c, s, k) for k, c, s in sorted(rows)] for j, rows in want.items()}

    def funnel():
        reference = SnapshotTable(spark, os.path.join(ctx.work, "reference"))
        reference.replace(text_plans.curation_funnel(corpus.read()))
        want, got = reference.read(), selection.read()
        return (str(got.schema) == str(want.schema),
                sorted(map(tuple, got.collect())), sorted(map(tuple, want.collect())))

    want_text, want_dedup, want_vec, (same_schema, got_sel, want_sel) = _side_by_side(
        tr, None, spark_text, spark_dedup, spark_vector, funnel)
    q = sample["text"][0]
    res.check(read("text", q) == want_text, f"text probe_local != probe for {q}")
    for j, q in enumerate(sample["dedup"]):
        res.check(set(read("dedup", q)) == want_dedup.get(j, set()), "dedup probe_local != probe")
    for j, q in enumerate(sample["vector"]):
        res.check(read("vector", q) == want_vec.get(j, []),
                  f"vector probe_local != probe_adc for id {q}")
    res.check(same_schema, "selection schema differs from curation_funnel")
    res.check(got_sel == want_sel and len(got_sel) > 0,
              f"selection ({len(got_sel)} rows) differs from curation_funnel ({len(want_sel)} rows)")

    if tr is not None:
        ops = [op for op, _ in res.traced_ops]
        for name in STORES:
            res.layer[f"{name}.probe_local_p50_ms"] = 1000.0 * median(
                tr.duration(s) for s in tr.named(f"{name}.probe_local"))
            res.layer[f"{name}.first_read_after_append_ms"] = median(first_after[name])
            res.layer[f"{name}.append_s"] = median(_sum_named(tr, op, f"{name}.append") for op in ops)
            res.layer[f"{name}.files"] = len(
                glob.glob(os.path.join(paths[name], "**", "*.parquet"), recursive=True))
        compacts = [s for s in tr.spans if s["name"].startswith("compaction.")]
        res.layer["compaction.maybe_compact_s"] = median(
            sum(tr.duration(s) for s in compacts if s["id"] in tr.subtree(op)) for op in ops)
        res.layer["compaction.folds"] = sum(s["attrs"].get("folds") or 0 for s in compacts)
        res.layer["snapshot.append_s"] = median(_sum_named(tr, op, "snapshot.append") for op in ops)
        res.layer["snapshot.replace_s"] = median(_sum_named(tr, op, "snapshot.replace") for op in ops)
        res.layer["snapshot.data_dirs"] = len({os.path.dirname(f) for f in corpus.read().inputFiles()})
        res.layer["ingest.delta_tick_s"] = median(
            _sum_named(tr, op, "ingest.curation_refresh_delta_tick") for op in ops)
        res.layer["ingest.state_log_rows"] = sum(
            SnapshotTable(spark, os.path.join(state, name)).read().count()
            for name in ("stats", "grams"))
        res.layer["ingest.corpus_files_read"] = median(files_read)
        bootstrap = tr.named("ingest.curation_refresh_delta_tick")[0]

        def post(by_span):
            res.layer["text.bootstrap_executor_s"] = spark_totals(
                tr, by_span, bootstrap)["executor_run_s"]

        res.post = post
    return res


def percentile_with_tail(xs: list[float], tail: int) -> float:
    """Nearest-rank p90, or the median when p90 would leave fewer than
    ``tail`` samples above it. Not p95/p99: the reads that follow an
    index append reload a cold store cache, and p95/p99 land on them;
    their count varies from run to run, and across ten seeds on a 4-CPU
    host those percentiles spread (IQR/median) 0.27-0.28, p90 0.10."""
    s = sorted(xs)
    for p in (0.90, 0.50):
        idx = max(math.ceil(p * len(s)) - 1, 0)
        if len(s) - 1 - idx >= tail:
            return s[idx]
    return s[len(s) // 2] if s else 0.0



WORKLOADS = {
    "cdw_ingest": cdw_ingest,
    "curation_serving": curation_serving,
}

#: per-layer metric prefixes of the layers each workload calls; it
#: reports 0 for every other layer
LAYERS = {
    "cdw_ingest": ("daemon.", "snapshot_diff.", "sources.", "pipeline.", "merge.",
                   "spark.", "trace."),
    "curation_serving": ("snapshot.", "ingest.", "text.", "text_index.", "dedup_index.",
                         "ann_index.", "compaction.", "spark.", "trace."),
}
