"""The repository benchmark: one seeded workload against lawlm_spark.

    python3 perfbench/run.py --workload serve_queries --seed 1 --seconds 25 --trace 0

Run from the repository root.  Workloads: build_index, serve_queries,
stream_ingest (see perfbench/README.md).  With ``--trace 0`` the last
stdout line carries the end-to-end metrics; with ``--trace 1`` Spark's
event log is on and it carries the per-layer metrics instead.  The line
before it reports the workload's own named figures and output digest.
The full record (spans, per-layer metrics, checks, accounting) is
written to ``.perfbench/results/<workload>-seed<n>-trace<t>.json``.

Exit status: 0 when every output check passed, 1 when a check failed
(the result line then says ``"correct": false``), 2 when the run could
not start or set up (no result line).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SPANS = (
    "build", "curation.call", "curation.write", "mirror.scan", "ingest.write",
    "serving.request", "streaming.pass",
)
COUNTS = (
    "dedup.candidate_pairs", "dedup.verified_pairs", "dedup.verified_per_candidate",
    "curation.kept_per_input", "mirror.bytes_per_input_byte", "mirror.files",
    "serving.http_s", "streaming.pass_growth", "streaming.files_per_pass",
    "streaming.backlog_max_files", "streaming.generator_lag_s",
    "streaming.refetch_dropped_ratio",
)
ACCOUNTING_TOLERANCE = 0.05  # top-level spans must cover the window to within 5 %
NAMES = {  # the workload's own names for the p50 and tail latencies
    "build_index": ("build_p50_s", "build_tail_s"),
    "serve_queries": ("query_p50_s", "query_tail_s"),
    "stream_ingest": ("freshness_p50_s", "freshness_tail_s"),
}


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than 11."""
    xs, n = sorted(samples), len(samples)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 11:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def end_to_end(out, peak_mb: float) -> dict[str, dict]:
    """The gated metrics.  The tail is not among them: a run holds fewer
    than 11 operations, so no percentile has ten samples beyond it and
    the reported tail is the maximum (see the named figures)."""
    p50 = statistics.median(out.samples) if out.samples else 0.0
    return {
        "setup_s": {"value": out.setup_s, "unit": "s"},
        "p50_s": {"value": p50, "unit": "s"},
        "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
    }


def code_digest() -> str:
    """sha256 over the library's and the benchmark's sources, so a
    record is only compared with one from the same code (a checkout
    need not be a git repository)."""
    h = hashlib.sha256()
    for top in ("lawlm_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def overhead(traced: dict, untraced: dict | None) -> dict | None:
    """Traced minus untraced end-to-end figures, or None when there is
    no untraced record of the same code, workload, seed and seconds."""
    if untraced is None or any(untraced.get(k) != traced[k] for k in ("code", "workload", "seed", "seconds")):
        return None
    out = {}
    for name, m in traced["end_to_end"].items():
        base = untraced["end_to_end"][name]["value"]
        out[name] = {"traced": m["value"], "untraced": base, "delta": m["value"] - base,
                     "share": m["value"] / base - 1.0 if base else None, "unit": m["unit"]}
    return out


def per_layer(ctx, out, e2e: dict) -> tuple[dict[str, float], dict]:
    from tracing import layer_medians, read_event_log, unattributed_jobs

    log = read_event_log(ctx.eventlog_dir)
    rec, (w0, w1) = ctx.spans, out.window
    first = {s.name: s.wall for s in reversed(rec.spans)}
    m = {"session.start_s": first.get("session.start", 0.0),
         "serving.init_s": first.get("serving.init", 0.0)}
    for name in SPANS:
        # the timed window's spans; a layer that ran only during set-up
        # (serve_queries' index build) reports its set-up spans
        spans = rec.named(name, w0, w1) or rec.named(name)
        for f, v in layer_medians(rec, log, spans).items():
            m[f"{name}.{f}"] = v
    for c in COUNTS:
        m[c] = float(out.counts.get(c, 0.0))
    tops = [s for s in rec.spans if s.parent is None and s.start >= w0 and s.end <= w1]
    covered = sum(s.wall for s in tops)
    m["trace.accounted_share"] = covered / (w1 - w0)
    m["trace.unattributed_jobs"] = float(unattributed_jobs(rec, log, w0, w1))
    for name, v in e2e.items():  # the traced end-to-end figures
        m[f"trace.{name}"] = v["value"]
    accounting = {
        "window_s": w1 - w0,
        "top_level_spans_s": covered,
        "self_s_by_span": {
            name: sum(rec.self_time(s) for s in rec.spans
                      if s.name == name and s.start >= w0 and s.end <= w1)
            for name in sorted({s.name for s in rec.spans})
        },
        "tolerance": ACCOUNTING_TOLERANCE,
        "within_tolerance": abs(1.0 - m["trace.accounted_share"]) <= ACCOUNTING_TOLERANCE,
    }
    return m, accounting


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "lawlm_spark", "__init__.py")):
        print(f"lawlm_spark not found under {ROOT}; run from a repository checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from tracing import RssSampler
    from workloads import Context

    results = os.path.join(ROOT, ".perfbench", "results")
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")  # Python workers and the launcher
    tempfile.tempdir = None
    ctx = Context(work, args.seed, args.seconds, bool(args.trace))
    try:
        try:
            with RssSampler() as rss:
                out = WORKLOADS[args.workload](ctx)
        finally:
            ctx.close()
        if out.attempted == 0:
            print("no operation ran in the timed window", file=sys.stderr)
            return 2
        if out.failed:
            out.errors.append(f"{out.failed} of {out.attempted} operations failed")
        record_path = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "code": code_digest(), "digest": out.digest, "errors": out.errors,
            "attempted": out.attempted, "failed": out.failed, "samples": out.samples,
            "end_to_end": end_to_end(out, rss.peak_mb),
            "spans": [vars(s) for s in ctx.spans.spans],
        }
        if args.trace:
            untraced_path = record_path.replace("-trace1.json", "-trace0.json")
            untraced = None
            if os.path.isfile(untraced_path):
                with open(untraced_path, encoding="utf-8") as fh:
                    untraced = json.load(fh)
            record["per_layer"], record["accounting"] = per_layer(ctx, out, record["end_to_end"])
            record["overhead"] = overhead(record, untraced)
    except Exception:  # noqa: BLE001 - report why the run could not produce a result
        traceback.print_exc(file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)

    value, pct, n = tail(out.samples)
    p50_name, tail_name = NAMES[args.workload]
    named = {
        p50_name: {"value": record["end_to_end"]["p50_s"]["value"], "unit": "s", "n": n},
        tail_name: {"value": value, "unit": "s", "percentile": pct, "n": n},
        "failed_ratio": {"value": out.failed / out.attempted, "unit": "ratio"},
        **{k: {"value": v, "unit": u} for k, (v, u) in out.named.items()},
        **record["end_to_end"],
    }
    record["named"] = named
    with open(record_path, "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({"workload": args.workload, "digest": out.digest, "errors": out.errors,
                      "record": os.path.relpath(record_path, ROOT), "named": named,
                      **({"overhead": record["overhead"]} if args.trace else {})}))
    metrics = (
        {k: {"value": v, "unit": unit_of(k)} for k, v in record["per_layer"].items()}
        if args.trace else record["end_to_end"]
    )
    correct = not out.errors
    print(json.dumps({"correct": correct, "attempted": out.attempted, "failed": out.failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_share", "_ratio", "_per_input", "_per_candidate", "_per_input_byte", "_growth")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
