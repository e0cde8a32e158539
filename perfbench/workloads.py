"""The three benchmark workloads, driven through lawlm_spark's public
entry points only.

Each workload generates its inputs first (untimed), then sets up
(session, warm-up, and for serve_queries the index build and service
start: the `setup_s` metric), then runs its operation in a loop for the
requested number of seconds, then checks every output.  A new operation
is started only while the median operation so far still fits in the
window, so a run overshoots its window by less than one operation.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys
import threading
import time
import traceback
import urllib.error
import urllib.request
from collections.abc import Callable
from dataclasses import dataclass, field

import checks
import gen
from tracing import SpanRecorder, descendants

# Sizes.  Every operation here is driver-bound at these sizes on a
# 4-core host (a 600-doc and a 1500-doc build both take ~6 s warm); the
# sizes are what a run of the stated length can repeat a few times.
# The planted duplicate, re-land and out-of-vocabulary shares are gen.py's.
BUILD_DOCS = 1500          # build_index corpus
SERVE_DOCS = 600           # serve_queries index corpus, separately seeded
SERVE_LIMIT = 3            # `limit` of every /query request
SERVE_SAMPLE = 2           # questions answered by a batched rag_answer and over HTTP, and compared
SERVE_WARMUP = 4           # untimed requests before the window, the checked sample first
STREAM_FIRST_DOCS = 200    # initial backlog, ingested by the first warm-up pass
STREAM_FILE_DOCS = 150     # rows per later landed file
STREAM_WARMUP_FILES = 2    # the backlog, then one file: the first timed pass is warm
STREAM_INTERVAL_S = 7.0    # one file lands every 7 s: warm passes take ~4.5-6.5 s
STREAM_JACCARD = 0.5       # near_dup_jaccard of every stream pass
DEDUP_NUM_HASHES, DEDUP_BANDS, DEDUP_JACCARD = 8, 4, 0.5  # curate_documents defaults


@dataclass
class Outcome:
    setup_s: float
    window: tuple[float, float]          # epoch seconds of the timed window
    samples: list[float]                 # per-operation latency, seconds
    attempted: int
    failed: int
    digest: str
    errors: list[str] = field(default_factory=list)
    named: dict = field(default_factory=dict)   # workload-specific end-to-end figures
    counts: dict = field(default_factory=dict)  # per-layer counts measured by the workload


class Context:
    """One run's Spark session, span recorder and scratch directories."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool):
        self.work, self.seed, self.seconds, self.trace = work, seed, seconds, trace
        self.spans = SpanRecorder()
        self.eventlog_dir = os.path.join(work, "eventlog")
        self.spark = None
        self._gateway = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self):
        from lawlm_spark.session import get_spark

        for d in ("local", "tmp", "eventlog"):
            os.makedirs(self.path(d), exist_ok=True)
        conf = {
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + self.eventlog_dir,
            })
        with self.spans.span("session.start"):
            self.spark = get_spark("lawlm-perfbench", cpus=len(os.sched_getaffinity(0)),
                                   extra_conf=conf)
            self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self._gateway = SparkContext._gateway
        return self.spark

    def close(self) -> None:
        """Stop Spark, end the driver JVM and wait for every process
        this run started (the JVM and its Python workers)."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw, self._gateway = self._gateway, None
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.2)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def timed_loop(
    seconds: float, op: Callable[[int], float | None], errors: list[str]
) -> tuple[list[float], int, int, tuple[float, float]]:
    """Run op(i) until the median operation so far no longer fits in
    the window.  op returns its latency, or None when it failed and has
    added the reason to `errors`; an op that raises is a failure too,
    and its exception goes to `errors`."""
    t0, w0 = time.perf_counter(), time.time()
    samples, walls, failed, i = [], [], 0, 0
    while True:
        s = time.perf_counter()
        try:
            lat = op(i)
        except Exception as e:  # noqa: BLE001 - a failed operation fails the run's checks
            traceback.print_exc(file=sys.stderr)
            errors.append(f"operation {i} raised {e!r}")
            lat = None
        walls.append(time.perf_counter() - s)
        if lat is None:
            failed += 1
        else:
            samples.append(lat)
        i += 1
        if time.perf_counter() - t0 + statistics.median(walls) > seconds:
            return samples, i, failed, (w0, time.time())


# ---------------------------------------------------------------------------
# the batch build pipeline (build_index, and serve_queries' index)


def build(ctx: Context, corpus_path: str, out: str) -> dict[str, str]:
    """curate_documents -> write_mirror -> scan_mirror ->
    ingest_documents -> write_mirrors(chunks, postings)."""
    from lawlm_spark.plans.curation import curate_documents
    from lawlm_spark.plans.rag import ingest_documents
    from lawlm_spark.sources.mirror import scan_mirror, write_mirror, write_mirrors

    spark, span = ctx.spark, ctx.spans.span
    paths = {k: os.path.join(out, k) for k in ("curated", "chunks", "postings")}
    registry: list = []
    with span("build"):
        docs = spark.read.parquet(corpus_path)
        with span("curation.call"):  # the eager exact-dedup and band persists run here
            curated = curate_documents(docs, cache_registry=registry)
        with span("curation.write"):
            write_mirror(curated, paths["curated"])
        with span("mirror.scan"):
            curated = scan_mirror(spark, paths["curated"])
        with span("ingest.write"):
            chunks, postings = ingest_documents(curated)
            write_mirrors([(chunks, paths["chunks"]), (postings, paths["postings"])])
        for handle in registry:
            handle.unpersist()
    return paths


def _read_build(paths: dict[str, str]):
    return (
        checks.read_dir(paths["curated"], ["doc_id"]),
        checks.read_dir(paths["chunks"]),
        checks.read_dir(paths["postings"]),
    )


def build_index(ctx: Context) -> Outcome:
    corpus = gen.corpus(ctx.seed, "build-corpus", BUILD_DOCS)
    corpus_path = ctx.path("corpus.parquet")
    gen.write_parquet(corpus.table, corpus_path)

    t_setup = time.perf_counter()
    ctx.start_session()
    outputs = [build(ctx, corpus_path, ctx.path("build-0"))]  # warm-up build
    setup_s = time.perf_counter() - t_setup

    def op(i: int) -> float:
        t = time.perf_counter()
        outputs.append(build(ctx, corpus_path, ctx.path(f"build-{i + 1}")))
        return time.perf_counter() - t

    errors: list[str] = []
    samples, attempted, failed, window = timed_loop(ctx.seconds, op, errors)

    build_errors, digest, counts = check_builds(ctx, corpus, corpus_path, outputs)
    errors += build_errors
    docs_per_s = corpus.table.num_rows * len(samples) / sum(samples) if samples else 0.0
    return Outcome(
        setup_s, window, samples, attempted, failed, digest, errors,
        named={"build_docs_per_s": (docs_per_s, "docs/s")},
        counts=counts,
    )


def check_builds(
    ctx: Context, corpus: gen.Corpus, corpus_path: str, outputs: list[dict[str, str]]
) -> tuple[list[str], str, dict[str, float]]:
    """Output checks over every build of one corpus (their digests must
    agree), and the build layers' counts from the last one."""
    errors, digests = [], set()
    for paths in outputs:
        tables = _read_build(paths)
        errors += checks.check_build(*tables, corpus.exact_copies)
        digests.add(checks.build_digest(*tables))
    if len(digests) != 1:
        errors.append(f"{len(digests)} different output digests across {len(outputs)} builds")
    from lawlm_spark.sources.mirror import mirror_file_stats

    curated = _read_build(outputs[-1])[0]
    n_files, out_bytes = (sum(x) for x in zip(
        mirror_file_stats(outputs[-1]["chunks"]), mirror_file_stats(outputs[-1]["postings"])))
    counts = {
        "curation.kept_per_input": curated.num_rows / corpus.table.num_rows,
        "mirror.bytes_per_input_byte": out_bytes / os.path.getsize(corpus_path),
        "mirror.files": float(n_files),
    }
    if ctx.trace:
        counts.update(dedup_counts(ctx, corpus_path))
    return errors, sorted(digests)[0], counts


def dedup_counts(ctx: Context, corpus_path: str) -> dict[str, float]:
    """Candidate and verified near-dup pairs at curate_documents'
    defaults, through the public LSH calls (traced run only, after the
    timed window)."""
    from lawlm_spark.operators.dedup import dedup_exact, lsh_candidate_pairs, minhash_dedup_pairs

    docs = dedup_exact(ctx.spark.read.parquet(corpus_path), "doc_id", "text")
    cand = lsh_candidate_pairs(docs, "doc_id", "text", num_hashes=DEDUP_NUM_HASHES,
                               bands=DEDUP_BANDS).count()
    registry: list = []
    verified = minhash_dedup_pairs(docs, "doc_id", "text", num_hashes=DEDUP_NUM_HASHES,
                                   bands=DEDUP_BANDS, min_jaccard=DEDUP_JACCARD,
                                   cache_registry=registry).count()
    for handle in registry:
        handle.unpersist()
    return {
        "dedup.candidate_pairs": float(cand),
        "dedup.verified_pairs": float(verified),
        "dedup.verified_per_candidate": verified / cand if cand else 0.0,
    }


# ---------------------------------------------------------------------------
# serve_queries


def _post(url: str, payload: dict) -> tuple[int, dict | None]:
    req = urllib.request.Request(url, json.dumps(payload).encode(), {"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, None


def serve_queries(ctx: Context) -> Outcome:
    from lawlm_spark.plans.rag import rag_answer
    from lawlm_spark.serving import RagService, serve
    from lawlm_spark.sources.mirror import scan_mirror

    corpus = gen.corpus(ctx.seed, "serve-corpus", SERVE_DOCS)
    corpus_path = ctx.path("corpus.parquet")
    gen.write_parquet(corpus.table, corpus_path)
    # index 1 is out-of-vocabulary, so the checked sample covers an empty BM25 branch
    questions = gen.questions(ctx.seed, 10_000, oov_at=(1,))

    t_setup = time.perf_counter()
    ctx.start_session()
    paths = build(ctx, corpus_path, ctx.path("index"))
    with ctx.spans.span("serving.init"):
        service = RagService(ctx.spark, paths["chunks"], paths["postings"])
    # the batched oracle for the checked sample; it runs the same search
    # operators as a request, so it is part of the warm-up too
    q = ctx.spark.createDataFrame(
        list(enumerate(questions[:SERVE_SAMPLE])), "query_id long, question string"
    )
    rows = rag_answer(
        scan_mirror(ctx.spark, paths["chunks"]), scan_mirror(ctx.spark, paths["postings"]), q,
        k=SERVE_LIMIT, dense_retriever="rp_lsh",
        retriever_opts={"n_vectors": service.collection_info()["points_count"]},
    ).collect()
    batched = {r["query_id"]: r.asDict() for r in rows}
    httpd, thread = serve(service)
    url = f"http://127.0.0.1:{httpd.server_address[1]}/query"
    errors: list[str] = []
    http_s: list[float] = []
    try:
        def ask(question: str) -> dict | None:
            t = time.perf_counter()
            try:
                with ctx.spans.span("serving.request"):
                    status, body = _post(url, {"question": question, "limit": SERVE_LIMIT})
            except Exception as e:  # noqa: BLE001 - e.g. the handler died and dropped the connection
                errors.append(f"{question!r}: request raised {e!r}")
                return None
            wall = time.perf_counter() - t
            bad = checks.check_response(status, body, SERVE_LIMIT)
            if bad:
                errors.extend(f"{question!r}: {e}" for e in bad)
                return None
            http_s.append(wall - body["processing_time"])
            body["_wall"] = wall
            return body

        warm = [ask(q) for q in questions[:SERVE_WARMUP]]
        setup_s = time.perf_counter() - t_setup
        http_s.clear()

        def op(i: int) -> float | None:
            body = ask(questions[SERVE_WARMUP + i])
            return None if body is None else body["_wall"]

        samples, attempted, failed, window = timed_loop(ctx.seconds, op, errors)
    finally:
        httpd.shutdown()
        httpd.server_close()
        thread.join(timeout=30)

    sample = warm[:SERVE_SAMPLE]
    if any(b is None for b in warm):
        errors.append("a warm-up request failed")
        return Outcome(setup_s, window, samples, attempted, failed, "", errors)
    for i, body in enumerate(sample):
        errors += checks.check_against_batch(body, batched[i])
    build_errors, build_digest, counts = check_builds(ctx, corpus, corpus_path, [paths])
    counts["serving.http_s"] = statistics.median(http_s) if http_s else 0.0
    digest = checks.combine(build_digest, checks.answers_digest(sample))
    return Outcome(setup_s, window, samples, attempted, failed, digest, errors + build_errors,
                   counts=counts)


# ---------------------------------------------------------------------------
# stream_ingest


def committed_files(checkpoint: str) -> set[str]:
    """File names the stream's file source has committed to its log
    (one JSON entry per file after the version line)."""
    src = os.path.join(checkpoint, "sources", "0")
    names = set()
    if not os.path.isdir(src):
        return names
    for entry in os.listdir(src):
        if entry.startswith("."):
            continue
        with open(os.path.join(src, entry), encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("{"):
                    names.add(os.path.basename(json.loads(line)["path"]))
    return names


class Lander(threading.Thread):
    """Open-loop generator: lands file i at window start + due(i),
    whatever the passes are doing."""

    def __init__(self, landing: gen.Landing, land_dir: str, t0: float):
        super().__init__(name="lander", daemon=True)
        self.landing, self.land_dir, self.t0 = landing, land_dir, t0
        self.landed: dict[int, float] = {}   # file index -> epoch landed
        self.lock = threading.Lock()
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            for i in range(self.landing.warmup_files, len(self.landing.files)):
                delay = self.t0 + self.landing.due(i) - time.time()
                if delay > 0:
                    time.sleep(delay)
                gen.write_parquet(self.landing.files[i], os.path.join(self.land_dir, file_name(i)))
                with self.lock:
                    self.landed[i] = time.time()
        except Exception as e:  # noqa: BLE001 - reported by the main thread as a failed check
            self.error = e


def file_name(i: int) -> str:
    return f"f{i:04d}.parquet"


def stream_ingest(ctx: Context) -> Outcome:
    from lawlm_spark.sources.mirror import mirror_file_stats
    from lawlm_spark.streaming.ingest import stream_ingest_documents

    n_files = STREAM_WARMUP_FILES + math.ceil(ctx.seconds / STREAM_INTERVAL_S)
    landing = gen.landing(ctx.seed, n_files, STREAM_FIRST_DOCS, STREAM_FILE_DOCS,
                          STREAM_INTERVAL_S, STREAM_WARMUP_FILES)
    land, mirror, ckpt = ctx.path("landing"), ctx.path("mirror"), ctx.path("checkpoint")
    os.makedirs(land)

    def one_pass() -> None:
        with ctx.spans.span("streaming.pass"):
            stream_ingest_documents(ctx.spark, land, mirror, ckpt, near_dup_jaccard=STREAM_JACCARD)

    t_setup = time.perf_counter()
    ctx.start_session()
    for i in range(STREAM_WARMUP_FILES):  # warm-up: one pass per file
        gen.write_parquet(landing.files[i], os.path.join(land, file_name(i)))
        one_pass()
    setup_s = time.perf_counter() - t_setup

    done = committed_files(ckpt)
    errors: list[str] = []
    if done != {file_name(i) for i in range(STREAM_WARMUP_FILES)}:
        errors.append(f"warm-up passes committed {sorted(done)}")
    names = {file_name(i): i for i in range(n_files)}
    t0 = time.time()
    lander = Lander(landing, land, t0)
    lander.start()
    freshness, passes, per_pass, backlog = [], [], [], []
    attempted = failed = 0
    give_up = time.monotonic() + ctx.seconds + 120
    while len(done) < n_files and lander.error is None and time.monotonic() < give_up:
        pending = [i for i in range(STREAM_WARMUP_FILES, n_files) if file_name(i) not in done]
        with lander.lock:
            waiting = [i for i in pending if i in lander.landed]
        if not waiting:  # sleep until the next file is due
            with ctx.spans.span("streaming.wait"):
                time.sleep(max(t0 + landing.due(pending[0]) - time.time(), 0.0) + 0.05)
            continue
        backlog.append(len(waiting))
        attempted += 1
        s = time.perf_counter()
        try:
            one_pass()
        except Exception as e:  # noqa: BLE001 - a failed pass fails the run's checks
            traceback.print_exc(file=sys.stderr)
            errors.append(f"pass {attempted} raised {e!r}")
            failed += 1
            continue
        passes.append(time.perf_counter() - s)
        end = time.time()
        new = committed_files(ckpt) - done
        done |= new
        per_pass.append(len(new))
        freshness += [end - (t0 + landing.due(names[n])) for n in new]
    window = (t0, time.time())
    lander.join(timeout=30)
    if lander.error is not None:
        errors.append(f"lander failed: {lander.error!r}")
    if len(done) < n_files:
        errors.append(f"only {len(done)} of {n_files} landed files were ingested")

    table = checks.read_dir(mirror, ["doc_id", "chunk_index", "chunk_key", "point_id",
                                     "chunk_text", "embedding"])
    errors += checks.check_stream(table, landing.originals, landing.refetches, landing.relands)
    present = set(table.column("doc_id").to_pylist())
    quarter = max(len(passes) // 4, 1)
    lag = [lander.landed[i] - (t0 + landing.due(i)) for i in lander.landed]
    counts = {
        "streaming.pass_growth": (statistics.mean(passes[-quarter:]) / statistics.mean(passes[:quarter])
                                  if passes else 0.0),
        "streaming.files_per_pass": statistics.mean(per_pass) if per_pass else 0.0,
        "streaming.backlog_max_files": float(max(backlog, default=0)),
        "streaming.generator_lag_s": max(lag, default=0.0),
        "streaming.refetch_dropped_ratio": (
            sum(1 for d in landing.refetches if d not in present) / len(landing.refetches)
            if landing.refetches else 0.0),
        "mirror.files": float(mirror_file_stats(mirror)[0]),
    }
    return Outcome(setup_s, window, freshness, attempted, failed, checks.stream_digest(table),
                   errors, counts=counts)


WORKLOADS = {"build_index": build_index, "serve_queries": serve_queries, "stream_ingest": stream_ingest}

