"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The run generates its inputs from the
seed (outside ``setup_s``), starts a Spark session on ``local[N]`` with
N the usable cores, builds the workload's state and warms every op type
up, then runs a closed loop of requests from one client for
``--seconds`` (and at least the workload's minimum request count).
Every op's result is checked; the last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``.  With ``--trace 0`` the metrics are the end-to-end ones,
with ``--trace 1`` the per-layer ones of a traced run.  Everything the
run writes stays under ``.perfbench_work/`` in the checkout; the spans
of a traced run are left there as ``spans-<workload>-<seed>.json``.

Metric definitions and the noise rules are in ``perfbench/METRICS.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "python_vector_db___ai_spark"

# the fewest timed requests a run makes, whatever --seconds says
MIN_REQUESTS = {"serve": 8, "ingest": 2}
# requests that make one round of every op type
ROUND = {"serve": 4, "ingest": 1}


def p50_sum(by_type):
    """Sum over op types of each type's median latency: one round."""
    return sum(statistics.median(r["seconds"] for r in rs)
               for rs in by_type.values() if rs)


def tail(values):
    """Highest percentile with at least ten samples beyond it; the max
    when there are fewer than eleven samples."""
    v = sorted(values)
    return v[-11] if len(v) >= 11 else v[-1]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(MIN_REQUESTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "session.py")):
        print(f"error: run from a checkout root holding {PACKAGE}/",
              file=sys.stderr)
        return 2
    load = os.getloadavg()
    work = os.path.join(root, ".perfbench_work",
                        f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        return _run(a, root, work, load)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(a, root, work, load) -> int:
    sys.path[:0] = [root, HERE]
    # the engine and its Python workers import the package from here
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    import gen
    import spans as tr_mod
    import workloads

    inputs = os.path.join(work, "inputs")
    t = time.perf_counter()
    manifest = gen.GENERATORS[a.workload](a.seed, inputs)
    gen_s = time.perf_counter() - t

    cpus = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    from python_vector_db___ai_spark.session import get_spark
    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t
    pid = os.getpid()
    tracer = tr_mod.Tracer(spark, enabled=False)
    wl = workloads.WORKLOADS[a.workload](spark, tracer, inputs, work,
                                         manifest)
    try:
        with tr_mod.RssSampler(pid) as rss:
            t = time.perf_counter()
            wl.setup()
            build_s = time.perf_counter() - t
            t = time.perf_counter()
            wl.warmup()
            warm_s = time.perf_counter() - t
            records, errors, cpu_s, wall_s = _loop(a, wl, tracer, pid)
        checks = wl.finish()
        if a.trace:
            tracer.dump(os.path.join(
                root, ".perfbench_work",
                f"spans-{a.workload}-{a.seed}.json"))
    finally:
        tracer.close()
        _stop(spark, pid)

    setup_s = start_s + build_s + warm_s
    ops = records
    attempted = len(ops) + len(errors) + len(checks)
    failed = (sum(1 for r in ops if not r["ok"]) + len(errors)
              + checks.count(False))
    types = list(dict.fromkeys(r["name"] for r in ops))
    by_type = {n: [r for r in ops if r["name"] == n] for n in types}

    n_req = len({r["request"] for r in ops})
    items = n_req * wl.items_per_request
    stats = wl.stats()
    recall = wl.recall_hits / max(wl.recall_total, 1)
    e2e = {
        "setup_s": (setup_s, "s"),
        "request_p50_s": (p50_sum(by_type), "s"),
        "items_per_s": (items / sum(r["seconds"] for r in ops)
                        if ops else None, "1/s"),
        "cpu_s_per_op": (cpu_s / max(len(ops), 1), "s"),
        "peak_rss_mb": (rss.peak / 2 ** 20, "MB"),
        "recall": (recall, "frac"),
        "bytes_amp": (wl.bytes_amp, "ratio"),
    }

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  "
          f"cores {cpus}  load at start {load[0]:.2f} {load[1]:.2f} "
          f"{load[2]:.2f}")
    print(f"inputs fingerprint {manifest['fingerprint']}  gen_s "
          f"{gen_s:.2f} (not in setup_s)")
    print(f"setup_s {setup_s:.3f} = session start {start_s:.3f} + build "
          f"{build_s:.3f} + warm-up {warm_s:.3f}")
    if wl.steps:
        print("  build steps: " + ", ".join(
            f"{k} {v:.3f}" for k, v in wl.steps.items()))
    print(f"measured {wall_s:.2f} s wall, {n_req} requests, {len(ops)} ops, "
          f"{len(checks)} post-run checks, {failed} failed of {attempted}")
    print(f"{'op':28s} {'n':>4s} {'p50_s':>8s} {'tail_s':>8s} "
          f"{'construct':>9s} {'exec':>8s}")
    for n, rs in by_type.items():
        print(f"{n:28s} {len(rs):4d} "
              f"{statistics.median(r['seconds'] for r in rs):8.4f} "
              f"{tail([r['seconds'] for r in rs]):8.4f} "
              f"{statistics.median(r['construct_s'] for r in rs):9.4f} "
              f"{statistics.median(r['exec_s'] for r in rs):8.4f}")
    rounds: dict[int, float] = {}
    for r in ops:
        k = r["request"] // ROUND[a.workload]
        rounds[k] = rounds.get(k, 0) + r["seconds"]
    print("round latencies_s " + " ".join(f"{v:.3f}" for v in rounds.values()))
    for e in errors:
        print(f"error in request {e[0]}: {e[1]}")
    _print_issue_metrics(a.workload, by_type, e2e, stats, failed, attempted)
    print("workload counters: " + ", ".join(
        f"{k} {v:.4g}" for k, v in stats.items()))

    if a.trace:
        metrics = _per_layer(tracer, by_type, stats, start_s, gen_s, load,
                             list(rounds.values()))
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    for k, m in metrics.items():
        v = "missing" if m["value"] is None else f"{m['value']:.6g}"
        print(f"  {k:34s} {v} {m['unit']}")
    missing = [k for k, m in metrics.items() if m["value"] is None]
    print(json.dumps({"correct": failed == 0 and not missing,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _stop(spark, pid):
    """Stop the session, then the JVM it launched, and wait until the
    JVM and its Python workers have exited."""
    from pyspark import SparkContext

    import spans

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()      # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while (len(spans.process_tree(pid)) > 1
           and time.monotonic() < deadline):
        time.sleep(0.1)


def _loop(a, wl, tracer, pid):
    """Closed loop: the next request starts when the previous ends."""
    import spans as tr_mod

    records, errors = [], []
    rnd = ROUND[a.workload]
    cpu0 = tr_mod.tree_cpu_s(pid)
    t0 = time.perf_counter()
    i = 0
    while (time.perf_counter() - t0 < a.seconds
           or i < MIN_REQUESTS[a.workload]):
        # the traced run traces every other round, so the untraced
        # rounds give the overhead baseline
        tracer.enabled = bool(a.trace) and (i // rnd) % 2 == 0
        try:
            results = wl.request(i)
        except IndexError:
            break                      # inputs exhausted: never repeat
        except Exception as e:         # an op that raises counts failed
            errors.append((i, repr(e)[:300]))
            i += 1
            continue
        for op, ok in results:
            records.append({"name": op.name, "request": i, "ok": bool(ok),
                            "seconds": op.seconds,
                            "construct_s": op.construct_s,
                            "exec_s": op.exec_s,
                            "traced": tracer.enabled})
        i += 1
    tracer.enabled = False
    wall = time.perf_counter() - t0
    return records, errors, tr_mod.tree_cpu_s(pid) - cpu0, wall


PREP_OPS = ("dedup.exact", "dedup.minhash", "dedup.simhash",
            "quality.repetition", "packing.pack")
COMMIT_OPS = ("chunking.chunk", "embedding.embed", "sources.commit",
              "index_store.ivf_append")
ISSUE_METRICS = (
    ("setup_s", "s"), ("exact_p50_s", "s"), ("ivf_p50_s", "s"),
    ("hnsw_p50_s", "s"), ("hybrid_p50_s", "s"), ("search_tail_s", "s"),
    ("ivf_recall", "frac"), ("hnsw_recall", "frac"),
    ("commit_p50_s", "s"), ("commit_tail_s", "s"),
    ("fresh_read_p50_s", "s"), ("corpus_docs_per_s", "docs/s"),
    ("bytes_amp", "ratio"), ("peak_rss_mb", "MB"),
    ("cpu_s_per_op", "s"), ("error_rate", "frac"),
    ("neardup_recall", "frac"),
)


def _print_issue_metrics(workload, by_type, e2e, stats, failed, attempted):
    """The per-op-type view: one median per op type, never one over a
    mix.  Metrics a workload does not exercise print as n/a."""
    import gen

    def p50(n):
        rs = by_type.get(n)
        return statistics.median(r["seconds"] for r in rs) if rs else None

    v = {"setup_s": e2e["setup_s"][0], "bytes_amp": e2e["bytes_amp"][0],
         "peak_rss_mb": e2e["peak_rss_mb"][0],
         "cpu_s_per_op": e2e["cpu_s_per_op"][0],
         "error_rate": failed / max(attempted, 1)}
    if workload == "serve":
        v.update(exact_p50_s=p50("search.exact"), ivf_p50_s=p50("ivf.search"),
                 hnsw_p50_s=p50("index_store.hnsw_search"),
                 hybrid_p50_s=p50("bm25.hybrid"),
                 search_tail_s=tail([r["seconds"] for rs in by_type.values()
                                     for r in rs]))
        v.update(ivf_recall=stats["ivf_recall"],
                 hnsw_recall=stats["hnsw_recall"])
    elif workload == "ingest":
        per_req: dict[int, float] = {}
        for rs in by_type.values():
            for r in rs:
                if r["name"] in COMMIT_OPS:
                    per_req[r["request"]] = (per_req.get(r["request"], 0)
                                             + r["seconds"])
        prep = sum(p50(n) for n in PREP_OPS if n in by_type)
        v.update(commit_p50_s=statistics.median(per_req.values()),
                 commit_tail_s=tail(list(per_req.values())),
                 fresh_read_p50_s=p50("sources.read"),
                 corpus_docs_per_s=gen.INGEST_BATCH / prep if prep else None,
                 neardup_recall=e2e["recall"][0],
                 ivf_recall=stats.get("ivf_recall"))
    print("per-op-type metrics:")
    for name, unit in ISSUE_METRICS:
        x = v.get(name)
        print(f"  {name:20s} " + ("n/a" if x is None else f"{x:.6g} {unit}"))


def _per_layer(tracer, by_type, stats, start_s, gen_s, load, round_s):
    """Per-layer metrics of the traced rounds: for each span metric, the
    sum over op types of that type's median, i.e. the cost of one
    round."""
    import spans as tr_mod

    op_spans = [s for s in tracer.spans if "construct_s" in s]
    print("per-op layer metrics (median over traced spans):")
    print(f"{'op':26s} " + " ".join(f"{k[:12]:>12s}"
                                    for k in tr_mod.SPAN_METRICS))
    for n in by_type:
        ss = [s for s in op_spans if s["name"] == n]
        if ss:
            print(f"{n:26s} " + " ".join(
                f"{statistics.median(s[k] for s in ss):12.5g}"
                for k in tr_mod.SPAN_METRICS))
    m = {}
    for key in tr_mod.SPAN_METRICS:
        m[key] = sum(statistics.median(s[key] for s in op_spans
                                       if s["name"] == n)
                     for n in by_type
                     if any(s["name"] == n for s in op_spans))
    traced = {n: [r for r in rs if r["traced"]] for n, rs in by_type.items()}
    plain = {n: [r for r in rs if not r["traced"]]
             for n, rs in by_type.items()}

    base = p50_sum(plain)
    cover = min(((s["construct_s"] + s["exec_s"])
                 / max(s["end"] - s["start"], 1e-9) for s in op_spans),
                default=0.0)
    out = {k: {"value": v, "unit": tr_mod.SPAN_METRICS[k]}
           for k, v in m.items()}
    out["cached_rdds_delta"]["value"] = sum(s["cached_rdds_delta"]
                                            for s in op_spans)
    extra = {
        "session.start_s": (start_s, "s"),
        "gen_s": (gen_s, "s"),
        "load_avg_1m": (load[0], "load"),
        "round_tail_s": (tail(round_s), "s"),
        "rounds": (len(round_s), "count"),
        "span_coverage_min": (cover, "frac"),
        "trace_overhead": ((p50_sum(traced) / base - 1) if base else 0.0,
                           "frac"),
        "ivf.scan_frac": (stats.get("ivf.scan_frac", 0.0), "frac"),
        "repeat_share": (stats.get("repeat_share", 0.0), "frac"),
        "embedding.cache_hit_ratio": (
            stats.get("embedding.cache_hit_ratio", 0.0), "frac"),
        "sources.bytes_written": (stats.get("sources.bytes_written", 0), "B"),
        "sources.files_written": (stats.get("sources.files_written", 0),
                                  "count"),
    }
    out.update({k: {"value": v, "unit": u} for k, (v, u) in extra.items()})
    return out


if __name__ == "__main__":
    sys.exit(main())
