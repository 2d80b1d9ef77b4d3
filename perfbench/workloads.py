"""The three workloads: ``search-spark``, ``search-local`` and ``ingest``.

Each workload runs one closed-loop client against one Spark session and
returns a ``Result``: the end-to-end metrics, the full per-workload table,
the per-layer metrics of a traced run, and the attempted/failed op counts
(an op that raises, or whose output fails its check, counts as failed).
See README.md in this directory for why each workload exists, and why
``search-spark`` runs by hand only and is not listed in BENCHMARK.json.
"""

from __future__ import annotations

import os
import resource
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

from lucene_solr_1_spark.corpus import CORPUS_DDL, make_corpus_pandas_from_ids
from lucene_solr_1_spark.index import builder as B
from lucene_solr_1_spark.index import deletes as D
from lucene_solr_1_spark.index import manifest as MF
from lucene_solr_1_spark.index import merge as M
from lucene_solr_1_spark.index import segment as SEG
from lucene_solr_1_spark.search.query import Term
from lucene_solr_1_spark.search.searcher import LuceneSparkSearcher
from tests.oracle import OracleIndex

from queries import SHAPES, K, Checker, Sampler, hits_key, union_query
from tracer import ACTION_CALLERS

N_FILES = 6000            # corpus files of the search workloads
INGEST_FILES = 3000       # base corpus files of ingest
SETUP_REPS = 3            # set-ups per run; setup_s takes their median
SPARK_MIN_OPS = 6         # search-spark runs at least this many queries
LOCAL_MIN_OPS = 1000      # search-local runs at least this many queries
LOCAL_DISTINCT = 150      # distinct queries in search-local's working set
ZIPF_S = 0.8              # repetition skew of search-local's query stream
INGEST_SEGMENTS = 2       # segments of ingest's first build
UPDATE_FILES = 4          # files each ingest update adds...
REPLACED_PER_UPDATE = 1   # ...of which replace (delete) an older file
PROBE_ORACLE_FILES = 500  # base files the probe queries are drawn from
VISIBLE_TRIES = 5         # searcher re-opens before an update counts failed
WARM_SHAPES = ("or", "phrase")  # search-spark warm-up queries per set-up
PROBES = 6                # ingest's before/after-merge probe queries
SEGMENT_REPLAYS = 3       # untraced build_segment_frames replays (median)
CAL_REF_S = 0.0065        # calibration loop time that defines the reference speed
CAL_EVERY = 100           # search-local queries between calibration samples
MS_PER_S = 1e3


class HostSpeed:
    """A fixed pure-Python and NumPy loop, timed between the measured ops.

    The benchmark runs on shared machines whose speed drifts by tens of
    percent within a minute. Scaling the latency of ops that run in this
    process by ``CAL_REF_S / median(loop time)`` reports it at a fixed
    reference speed, which cancels most of that drift; the raw latency
    stays in the table. Work in the JVM and the Python workers is not
    tracked by this loop and is reported as measured. Each sample is the fastest of 3 loops, so that a pause in a
    background JVM thread does not read as a slow host."""

    def __init__(self):
        self._data = np.random.default_rng(0).random(100_000)
        self.samples: list[float] = []

    def _loop(self) -> float:
        t0 = time.perf_counter()
        total = 0
        for i in range(100_000):
            total += i
        np.sort(self._data)
        return time.perf_counter() - t0

    def sample(self) -> None:
        self.samples.append(min(self._loop() for _ in range(3)))

    def scale(self) -> float:
        """Factor from a time taken in this run to reference-speed time."""
        return CAL_REF_S / statistics.median(self.samples)


@dataclass
class Result:
    metrics: dict     # the end-to-end metrics BENCHMARK.json bounds
    table: dict       # every end-to-end figure
    layers: dict      # per-layer metrics (traced run; else empty)
    attempted: int
    failed: int


class Run:
    """What one workload run shares: the session, its seed-derived inputs,
    the op counters, and the tracer when the run is traced."""

    def __init__(self, spark, work_dir: str, seed: int, seconds: int,
                 nproc: int, session_start_s: float, tracer=None):
        self.spark = spark
        self.work_dir = work_dir
        self.seconds = seconds
        self.nproc = nproc
        self.session_start_s = session_start_s
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        # the seed picks the corpus file-index range: a new corpus per seed
        self.first_file = 1_000_000 + (seed % 100_000) * 10_000
        self.attempted = 0
        self.failed = 0
        self._dirs = 0

    def op(self, kind: str):
        return self.tracer.op(kind) if self.tracer else nullcontext()

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    def corpus(self, first: int, n: int):
        return make_corpus_pandas_from_ids(np.arange(first, first + n))

    def frame(self, pdf):
        return self.spark.createDataFrame(pdf, schema=CORPUS_DDL)

    def new_dir(self, name: str) -> str:
        self._dirs += 1
        return os.path.join(self.work_dir, f"{self._dirs:02d}-{name}")

    def result(self, metrics: dict, table: dict, layers: dict) -> Result:
        rss = peak_rss_mb()
        metrics["driver_peak_rss_mb"] = (rss, "MB")
        table["driver_peak_rss_mb"] = (rss, "MB")
        table["failed_frac"] = (self.failed / max(self.attempted, 1), "share")
        table["attempted_ops"] = (self.attempted, "count")
        return Result(metrics, table, layers, self.attempted, self.failed)


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.lstat(os.path.join(root, f)).st_size for f in files)
    return total


def content_bytes(pdf) -> int:
    return int(sum(len(c.encode("utf-8")) for c in pdf["content"]))


def tail_ms(lat: list) -> float | None:
    """p90 in ms, or None when fewer than 10 samples lie beyond it."""
    if len(lat) < 100:
        return None
    return float(np.percentile(lat, 90)) * MS_PER_S


def report_failure(what: str) -> None:
    print(f"perfbench: {what} failed:", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


def latency_table(lat: list, scale: float = 1.0) -> dict:
    """Latency figures of the measured ops; ``scale`` turns a time into
    reference-speed time (see ``HostSpeed``)."""
    p90 = tail_ms(lat)
    return {
        "latency_p50_ms": (statistics.median(lat) * MS_PER_S * scale, "ms"),
        "latency_p90_ms": (p90 * scale if p90 is not None else None, "ms"),
        "latency_samples": (len(lat), "count"),
        "throughput_ops_per_s": (len(lat) / (sum(lat) * scale), "1/s"),
    }


# ---------------- search set-up ------------------------------------------

def setup_index(run: Run, n_files: int, segments: int, warm) -> tuple:
    """SETUP_REPS timed set-ups, each: corpus generation, index build,
    searcher open and ``warm(searcher)``. Returns the last set-up's
    (pdf, index_dir, searcher) with the per-rep and build times."""
    rep_s, build_s = [], []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        pdf = run.corpus(run.first_file, n_files)
        sdf = run.frame(pdf)
        index_dir = run.new_dir("index")
        with run.op("build_index"):
            tb = time.perf_counter()
            manifest = B.build_index(run.spark, sdf, index_dir, num_segments=segments)
            build_s.append(time.perf_counter() - tb)
        searcher = LuceneSparkSearcher(run.spark, index_dir)
        with run.op("warmup"):
            warm(searcher)
        rep_s.append(time.perf_counter() - t0)
        run.record(manifest["doc_count"] == n_files)
    return pdf, index_dir, searcher, rep_s, build_s


def setup_table(run: Run, rep_s: list, build_s: list, n_files: int) -> dict:
    """Set-up figures, as measured: the build runs in the JVM and the
    Python workers, whose speed the driver's calibration loop does not
    track."""
    return {
        "setup_s": (run.session_start_s + statistics.median(rep_s), "s"),
        # set-up 1 pays the JVM's and the Python workers' warm-up
        "build_files_per_s": (n_files / statistics.median(build_s[1:]), "files/s"),
    }


def bounded_metrics(table: dict) -> dict:
    """The end-to-end metrics that BENCHMARK.json bounds (``Run.result``
    adds the peak RSS)."""
    names = ("setup_s", "latency_p50_ms", "build_files_per_s",
             "disk_bytes_per_input_byte")
    return {n: table[n] for n in names}


# ---------------- per-layer metrics ----------------------------------------

def _mean(vals) -> float:
    vals = list(vals)
    return float(sum(vals) / len(vals)) if vals else 0.0


def query_layers(qops: list, kops: list) -> dict:
    """Per-query layer metrics: Spark and searcher figures from the
    workload's query ops, kernel figures from its in-process ops."""
    out = {
        "spark.jobs_per_query": (_mean(o.jobs for o in qops), "count"),
        "spark.stages_per_query": (_mean(o.stages for o in qops), "count"),
        "spark.tasks_per_query": (_mean(o.tasks for o in qops), "count"),
        "searcher.actions_per_query": (_mean(o.calls["action"] for o in qops), "count"),
        "searcher.action_ms_per_query": (_mean(o.ms["action"] for o in qops), "ms"),
        "searcher.driver_ms_per_query": (
            _mean(o.wall * MS_PER_S - o.ms["action"] for o in qops), "ms"),
        "query.rewrite_ms_per_query": (_mean(o.ms["rewrite"] for o in qops), "ms"),
        "kernel.compile_plan_ms_per_query": (
            _mean(o.ms["compile_plan"] for o in qops), "ms"),
    }
    for caller in ACTION_CALLERS + ("other",):
        out[f"searcher.action_ms.{caller}"] = (
            _mean(o.caller_ms[caller] for o in qops), "ms")
    calls = sum(o.results["score_calls"] for o in kops)
    wand = sum(o.results["wand"] for o in kops)
    out.update({
        "kernel.score_ms_per_query": (_mean(o.ms["score"] for o in kops), "ms"),
        "kernel.segments_scored_per_query": (_mean(o.calls["score"] for o in kops), "count"),
        "kernel.wand_share": (wand / calls if calls else 0.0, "share"),
        "kernel.pruned_share": (
            sum(o.results["pruned"] for o in kops) / wand if wand else 0.0, "share"),
        "searcher.local_other_ms_per_query": (_mean(
            o.wall * MS_PER_S - o.ms["score"] - o.ms["rewrite"]
            - o.ms["compile_plan"] - o.ms["action"] for o in kops), "ms"),
    })
    return out


def write_layers(ops: list, input_bytes: int, index_dir: str, rewritten: set) -> dict:
    """Commit, delete, merge and on-disk layer metrics over every op;
    ``rewritten`` names the segment directories the merge wrote."""
    def kind(k):
        return [o for o in ops if o.kind == k]

    commits = kind("build_index") + kind("add_documents")
    manifests = sum(o.calls["commit_manifest"] for o in ops)
    merges = kind("merge_down")
    manifest = MF.read_manifest(index_dir)
    live = {s["segment_id"] for s in manifest["segments"]}
    seg_root = MF.segments_dir(index_dir)
    seg_bytes = {d: dir_bytes(os.path.join(seg_root, d)) for d in os.listdir(seg_root)}
    return {
        "builder.build_index_s": (statistics.median(o.wall for o in kind("build_index")), "s"),
        "builder.add_documents_s": (_mean(o.wall for o in kind("add_documents")), "s"),
        "spark.jobs_per_commit": (_mean(o.jobs for o in commits), "count"),
        "spark.tasks_per_commit": (_mean(o.tasks for o in commits), "count"),
        "manifest.commit_ms": (
            sum(o.ms["commit_manifest"] for o in ops) / manifests if manifests else 0.0, "ms"),
        "deletes.delete_by_term_ms": (
            _mean(o.wall * MS_PER_S for o in kind("delete_by_term")), "ms"),
        "merge.merge_down_s": (sum(o.wall for o in merges), "s"),
        "merge.groups_merged": (sum(o.results["groups"] for o in merges), "count"),
        "merge.commits": (sum(o.calls["commit_manifest"] for o in merges), "count"),
        "merge.bytes_rewritten_per_input_byte": (
            sum(seg_bytes[s] for s in rewritten) / input_bytes, "ratio"),
        "segment.bytes_per_input_byte": (
            sum(b for s, b in seg_bytes.items() if s in live) / input_bytes, "ratio"),
        "disk.unreferenced_bytes": (
            sum(b for s, b in seg_bytes.items() if s not in live), "bytes"),
    }


def first_segment_rows(index_dir: str):
    """Corpus rows of the index's first segment, read from its docmap."""
    manifest = MF.read_manifest(index_dir)
    first = min(manifest["segments"], key=lambda s: s["partition_id"])
    norms = os.path.join(MF.segment_dir(index_dir, first["segment_id"]), "norms.parquet")
    return pq.read_table(norms, columns=["repo", "path", "commit", "lang", "content"]).to_pandas()


def segment_layers(run: Run, pdf) -> dict:
    """Replays ``build_segment_frames`` in-process on one segment's rows
    (the build runs inside Spark Python workers, out of the driver's
    reach) and splits its time into analysis, FOR encoding and the rest
    of the inversion, per 1k documents."""
    per_k = 1000.0 / max(len(pdf), 1)
    walls = []
    for _ in range(SEGMENT_REPLAYS):  # untraced: no op is open
        t0 = time.perf_counter()
        SEG.build_segment_frames(pdf)
        walls.append(time.perf_counter() - t0)
    with run.op("segment_replay") as op:
        SEG.build_segment_frames(pdf)
    total = statistics.median(walls) * MS_PER_S
    flatten = op.ms["flatten_tokens"]
    encode = op.ms["encode"]
    return {
        "segment.build_segment_frames_ms_per_1k_docs": (total * per_k, "ms"),
        "analyzer.flatten_tokens_ms_per_1k_docs": (flatten * per_k, "ms"),
        "forcodec.encode_calls_per_1k_docs": (op.calls["encode"] * per_k, "count"),
        "forcodec.encode_ms_per_1k_docs": (encode * per_k, "ms"),
        "segment.invert_other_ms_per_1k_docs": ((total - flatten - encode) * per_k, "ms"),
    }


def traced_layers(run: Run, qops: list, kops: list, input_bytes: int,
                  index_dir: str, segment_rows, rewritten: set = frozenset()) -> dict:
    tr = run.tracer
    tr.read_spark_counts(tr.ops)
    layers = {"spark.session_start_s": (run.session_start_s, "s")}
    layers.update(query_layers(qops, kops))
    layers.update(write_layers(tr.ops, input_bytes, index_dir, rewritten))
    layers.update(segment_layers(run, segment_rows))
    return layers


# ---------------- search-spark ---------------------------------------------

def search_spark(run: Run) -> Result:
    oracle = OracleIndex(run.corpus(run.first_file, N_FILES))
    sampler = Sampler(oracle, run.rng)
    warm = iter([[sampler.fresh(shape) for shape in WARM_SHAPES] for _ in range(SETUP_REPS)])
    specs = [sampler.fresh(SHAPES[i % len(SHAPES)]) for i in range(40 * run.seconds + SPARK_MIN_OPS)]
    pdf, index_dir, searcher, rep_s, build_s = setup_index(
        run, N_FILES, run.nproc,
        lambda s: [s.search(w.query(), k=K, with_stored=True) for w in next(warm)])

    lat, outputs, ops = [], [], []
    t_start = time.perf_counter()
    while len(lat) < SPARK_MIN_OPS or time.perf_counter() - t_start < run.seconds:
        spec = specs[len(lat)]
        t0 = time.perf_counter()
        try:
            with run.op("query") as op:
                hits = searcher.search(spec.query(), k=K, with_stored=True)
            outputs.append(hits_key(hits))
        except Exception:
            report_failure(f"search {spec}")
            outputs.append(None)
        lat.append(time.perf_counter() - t0)
        ops.append(op)

    checker = Checker(oracle)
    for spec, out in zip(specs, outputs):
        run.record(out is not None and checker.ok(spec, *out))

    table = setup_table(run, rep_s, build_s, N_FILES)
    table.update(latency_table(lat))
    table["disk_bytes_per_input_byte"] = (dir_bytes(index_dir) / content_bytes(pdf), "ratio")
    layers = {}
    if run.tracer:
        # the scoring kernels ran in Spark workers: replay the same
        # queries through the driver-local path to time them
        replays = []
        for spec in specs[:SPARK_MIN_OPS]:
            with run.op("replay") as op:
                searcher.search_local(spec.query(), k=K)
            replays.append(op)
        layers = traced_layers(run, ops[:SPARK_MIN_OPS], replays, content_bytes(pdf),
                               index_dir, first_segment_rows(index_dir))
    return run.result(bounded_metrics(table), table, layers)


# ---------------- search-local ---------------------------------------------

def search_local(run: Run) -> Result:
    oracle = OracleIndex(run.corpus(run.first_file, N_FILES))
    sampler = Sampler(oracle, run.rng)
    specs = [sampler.fresh(SHAPES[i % len(SHAPES)]) for i in range(LOCAL_DISTINCT)]
    weights = 1.0 / np.arange(1, LOCAL_DISTINCT + 1) ** ZIPF_S
    stream = run.rng.choice(LOCAL_DISTINCT, size=4000 * run.seconds + LOCAL_MIN_OPS,
                            p=weights / weights.sum())
    union = union_query(specs)

    def warm(searcher):
        searcher.search_local(union, k=K)
        for spec in specs:
            searcher.search_local(spec.query(), k=K)

    pdf, index_dir, searcher, rep_s, build_s = setup_index(run, N_FILES, run.nproc, warm)

    host = HostSpeed()
    lat, outputs, ops = [], [], []
    t_start = time.perf_counter()
    while len(lat) < LOCAL_MIN_OPS or time.perf_counter() - t_start < run.seconds:
        i = stream[len(lat)]
        if len(lat) % CAL_EVERY == 0:
            host.sample()
        t0 = time.perf_counter()
        try:
            with run.op("query") as op:
                hits = searcher.search_local(specs[i].query(), k=K)
            outputs.append((i, hits_key(hits)))
        except Exception:
            report_failure(f"search_local {specs[i]}")
            outputs.append((i, None))
        lat.append(time.perf_counter() - t0)
        ops.append(op)
    host.sample()

    checker = Checker(oracle)
    for i, out in outputs:
        run.record(out is not None and checker.ok(specs[i], *out))

    table = setup_table(run, rep_s, build_s, N_FILES)
    # the queries run in this process: report them at reference speed
    speed = host.scale()
    table.update(latency_table(lat, speed))
    table["latency_p50_ms_raw"] = (statistics.median(lat) * MS_PER_S, "ms")
    table["host_speed"] = (speed, "ratio")
    table["disk_bytes_per_input_byte"] = (dir_bytes(index_dir) / content_bytes(pdf), "ratio")
    layers = {}
    if run.tracer:
        prefix = ops[:LOCAL_MIN_OPS]
        layers = traced_layers(run, prefix, prefix, content_bytes(pdf), index_dir,
                               first_segment_rows(index_dir))
    return run.result(bounded_metrics(table), table, layers)


# ---------------- ingest -----------------------------------------------------

def _docmap(index_dir: str) -> dict:
    """(segment_id, doc_id) -> path, read from the committed docmaps."""
    out = {}
    for path in B.norms_paths(index_dir, MF.read_manifest(index_dir)):
        t = pq.read_table(path, columns=["segment_id", "doc_id", "path"]).to_pydict()
        out.update(zip(zip(t["segment_id"], t["doc_id"]), t["path"]))
    return out


def _probe(run: Run, index_dir: str, specs: list, ops: list) -> list:
    """Top-k (path, score) of each probe spec on a newly opened searcher."""
    searcher = LuceneSparkSearcher(run.spark, index_dir)
    with run.op("probe_warmup"):
        searcher.search_local(union_query(specs), k=K)
    docmap = _docmap(index_dir)
    out = []
    for spec in specs:
        with run.op("probe") as op:
            hits = searcher.search_local(spec.query(), k=K)
        ops.append(op)
        out.append(tuple(
            (docmap[(sid, int(did))], float(score))
            for sid, did, score in zip(hits["segment_id"], hits["doc_id"], hits["score"])
        ))
    return out


def ingest(run: Run) -> Result:
    rounds = max(2, run.seconds)
    new = run.corpus(run.first_file + INGEST_FILES, rounds * UPDATE_FILES)
    indexed = run.corpus(run.first_file, 1)["path"].iloc[0]

    def warm(searcher):
        # the lookup and delete paths, without changing the index
        searcher.search(Term(indexed, field="path"), k=1, with_stored=True)
        D.delete_by_term(run.spark, searcher.index_dir, "src/absent.py", field="path")

    base, index_dir, _, rep_s, build_s = setup_index(
        run, INGEST_FILES, INGEST_SEGMENTS, warm)
    input_bytes = content_bytes(base) + content_bytes(new)
    sampler = Sampler(OracleIndex(base.iloc[:PROBE_ORACLE_FILES]), run.rng)
    probes = [sampler.fresh(SHAPES[i % len(SHAPES)]) for i in range(PROBES)]
    replaced = list(base["path"].iloc[
        run.rng.choice(INGEST_FILES, size=rounds * REPLACED_PER_UPDATE, replace=False)])
    # the merge rewrites the segments: keep a built one for the replay
    segment_rows = first_segment_rows(index_dir) if run.tracer else None

    lat, qops = [], []
    for r in range(rounds):
        batch = new.iloc[r * UPDATE_FILES:(r + 1) * UPDATE_FILES]
        target = batch["path"].iloc[0]
        visible = False
        try:
            t0 = time.perf_counter()
            with run.op("update"):
                with run.op("add_documents"):
                    B.add_documents(run.spark, run.frame(batch), index_dir, num_segments=1)
                for path in replaced[r * REPLACED_PER_UPDATE:(r + 1) * REPLACED_PER_UPDATE]:
                    with run.op("delete_by_term"):
                        D.delete_by_term(run.spark, index_dir, path, field="path")
                for _ in range(VISIBLE_TRIES):
                    searcher = LuceneSparkSearcher(run.spark, index_dir)
                    with run.op("query") as op:
                        hits = searcher.search(Term(target, field="path"), k=1, with_stored=True)
                    qops.append(op)
                    if len(hits) and hits["path"].iloc[0] == target:
                        visible = True
                        break
            lat.append(time.perf_counter() - t0)
        except Exception:
            report_failure(f"update {r}")
        run.record(visible)

    kops: list = []
    before = _probe(run, index_dir, probes, kops)
    old_segments = set(os.listdir(MF.segments_dir(index_dir)))
    with run.op("merge_down"):
        t0 = time.perf_counter()
        manifest = M.merge_down(run.spark, index_dir, target_segments=2, concurrent=True)
        merge_s = time.perf_counter() - t0
    run.record(len(manifest["segments"]) <= 2)
    after = _probe(run, index_dir, probes, [])
    for b, a in zip(before, after):
        run.record(b == a)

    disk = dir_bytes(index_dir)
    table = setup_table(run, rep_s, build_s, INGEST_FILES)
    table.update(latency_table(lat))
    table.update({
        "disk_bytes_per_input_byte": (disk / input_bytes, "ratio"),
        "visible_p50_s": (table["latency_p50_ms"][0] / MS_PER_S, "s"),
        "merge_s": (merge_s, "s"),
    })
    layers = {}
    if run.tracer:
        rewritten = set(os.listdir(MF.segments_dir(index_dir))) - old_segments
        layers = traced_layers(run, qops, kops, input_bytes, index_dir, segment_rows,
                               rewritten)
    return run.result(bounded_metrics(table), table, layers)


WORKLOADS = {"search-spark": search_spark, "search-local": search_local, "ingest": ingest}
