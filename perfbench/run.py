"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload bloom_urls --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository: the benchmark imports
``sparksketch`` from the checkout and exits non-zero if it is not there.
With ``--trace 0`` it prints the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` the per-layer ones; the last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.  The line
before it is the full record (provenance, per-iteration samples), which is
also written under ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def loop(wl, plain, traced, seconds: float, trace: bool, root: int):
    """Run the workload's minimum of iterations, then start another only
    while it would end within ``seconds`` if it took as long as the last.
    A traced run alternates untraced and traced iterations, at least
    three, so that the tracing overhead compares traced iterations with
    untraced ones around them."""
    iters, errors = [], []
    deadline = time.perf_counter() + seconds
    minimum = max(wl.min_iterations, 3 if trace else 1)
    last = 0.0
    while len(iters) < minimum or time.perf_counter() + last < deadline:
        tracer = traced if trace and len(iters) % 2 == 1 else plain
        wl.tracer = tracer
        sid = traced.reserve()
        t0 = time.time()
        try:
            it = wl.iteration(sid)
        except Exception as e:  # a failed call is counted, not fatal
            errors.append(f"{type(e).__name__}: {e}")
            break
        it.traced = tracer is traced
        t1 = time.time()
        last = t1 - t0
        traced.span(f"iteration {len(iters)}{' traced' if it.traced else ''}",
                    t0, t1, root, sid)
        iters.append(it)
    return iters, errors


def main(argv=None) -> int:
    began = time.perf_counter()
    args = parse_args(argv)
    if not (ROOT / "sparksketch" / "__init__.py").is_file():
        print(f"perfbench: no sparksketch package under {ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import harness
    harness.prepare_env()
    import sparksketch
    if not Path(sparksketch.__file__).resolve().is_relative_to(ROOT):
        print(f"perfbench: sparksketch imported from {sparksketch.__file__}, not the checkout",
              file=sys.stderr)
        return 2
    from tracing import Tracer
    from workloads import WORKLOADS
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    cls = WORKLOADS[args.workload]
    corpus = harness.Corpus(cls.pages, args.seed)
    t0 = time.perf_counter()
    phases = {"imports": t0 - began}
    spark = harness.start_session()
    start_s = time.perf_counter() - t0
    try:
        spark, setups, meta = harness.timed_setups(spark, start_s, corpus)
        phases["setups"] = time.perf_counter() - t0
        plain = Tracer(spark, False)
        traced = Tracer(spark, args.trace == 1)
        wl = cls(spark, plain, corpus, args.seed)
        t0 = time.perf_counter()
        wl.prepare()
        prep_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        root = traced.reserve()
        t0 = time.time()
        with harness.PeakRss() as rss:
            iters, errors = loop(wl, plain, traced, args.seconds, args.trace == 1, root)
        traced.span(args.workload, t0, time.time(), None, root)
        phases["loop"] = time.time() - t0
        t0 = time.perf_counter()
        replayed = wl.run_replay() if args.trace == 1 and hasattr(wl, "run_replay") else {}
        phases["replay"] = time.perf_counter() - t0
    finally:
        t0 = time.perf_counter()
        stop(spark)
        phases["stop"] = time.perf_counter() - t0

    attempted = sum(len(it.calls) for it in iters) + len(errors)
    failed = sum(len(it.calls) for it in iters if it.failures) + len(errors)
    timed = [it for it in iters if not it.traced]
    metrics = {}
    if args.trace == 0:
        values = {
            "setup_s": harness.median(setups) + warm_s,
            "rows_per_s": harness.median([it.rows / it.call_s for it in timed]) if timed else 0.0,
            "peak_rss_mb": rss.peak / 1e6,
        }
        for m in spec["end_to_end"]:
            metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    else:
        values = per_layer(iters, replayed, meta)
        for m in spec["per_layer"]:
            metrics[m["name"]] = {"value": values.get(m["name"], 0.0), "unit": m["unit"]}

    record = {
        "workload": args.workload, "seconds": args.seconds, "trace": args.trace,
        "provenance": {**harness.provenance(args.seed), "pages": cls.pages,
                       "webtext_gen_s": meta["gen_s"], "prep_s": prep_s},
        "phase_s": phases, "setup_s_samples": setups,
        "warm_up_s": warm_s, "warm_up_call_s": wl.warm_up_calls,
        "peak_rss_mb_by_command": {k: v / 1e6 for k, v in rss.peak_by_command.items()},
        "iterations": [{"traced": it.traced, "call_s": {c.name: c.wall_s for c in it.calls},
                        "rows": it.rows, "failures": it.failures, "layers": it.layers}
                       for it in iters],
        "errors": errors,
    }
    results = harness.STATE_DIR / "results"
    results.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}_seed{args.seed}_trace{args.trace}"
    (results / f"{stem}.json").write_text(json.dumps(record, indent=1))
    if args.trace == 1:
        traced.write(harness.TRACE_DIR / f"{stem}.json")
    print(json.dumps(record))
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def per_layer(iters, replayed: dict, meta: dict) -> dict:
    import harness
    from workloads import _session_layers
    traced = [it for it in iters if it.traced]
    plain = [it for it in iters if not it.traced]
    out: dict[str, float] = {"webtext.gen_s": meta["gen_s"], **replayed}
    samples: dict[str, list[float]] = {}
    for it in traced:
        for k, v in {**it.layers, **_session_layers(it)}.items():
            samples.setdefault(k, []).append(v)
    # call-level figures come from the untraced iterations where they exist
    for k in {k for it in plain for k in it.layers}:
        samples[k] = [it.layers[k] for it in plain]
    out.update({k: harness.median(v) for k, v in samples.items()})
    if traced and plain:
        ratio = harness.median([it.call_s for it in traced]) / harness.median([it.call_s for it in plain])
        out["trace.overhead_pct"] = (ratio - 1.0) * 100.0
        out["trace.read_s"] = harness.median([sum(c.read_s for c in it.calls) for it in traced])
        out["trace.reconcile_margin_ms"] = max(c.margin_ms() for it in traced for c in it.calls)
    return out


if __name__ == "__main__":
    sys.exit(main())
