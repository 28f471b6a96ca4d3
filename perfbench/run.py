"""Benchmark of the document-ETL pipeline (File -> Markdown -> chunks -> index).

Usage, from the root of the repository:

    python3 perfbench/run.py --workload ingest_cold --seed 1 --seconds 8 --trace 0

Workloads (closed loop, one client, ``local[<cpus>]``):

- ``ingest_cold``: ``ETLPipeline.process_folder(force=True)`` of a seeded
  folder into an empty index, again and again;
- ``retrieval``: ``search`` (its IVF branch) against a static index
  built during set-up; each step asks one 32-query batch drawn from the
  session's pool of queries and one 32-query batch of queries asked
  nowhere else.

The run generates its inputs from ``--seed``, builds a session sized to
the host, sets up, measures for ``--seconds``, checks the program's
outputs, stops every process it started and prints, as its last line,
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of ``BENCHMARK.json``; with ``--trace 1``
every other step is traced, the run ends with a traced tour of the calls
the window does not make (index churn on ``ingest_cold``; ANN build,
``ann_search`` and ``hybrid_search`` on ``retrieval``) and the metrics
are the per-layer ones.
Lines above the last one give the workload's own metrics by name and
unit. The whole record, spans included, goes to
``.perfbench/results/<workload>-seed<seed>-trace<trace>.json``.

``metrics_map.json`` says which layer metric should move which
end-to-end metric on which workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")

#: Documents in the generated folder (plus ~7% gated and undecodable
#: files): ~2.7 MB of text, ~3,570 chunks, above the 2,048-row gate
#: where ``search`` switches to its IVF branch.
N_DOCS = 500

#: Share of CPU time stolen by the hypervisor above which a run is
#: flagged as taken in a degraded window.
MAX_STEAL = 0.1

#: Layers whose spans sit inside measured steps.
STEP_LAYERS = ("etl", "sources", "convert", "chunk", "commit", "knn")
#: Layers only a traced run's tour reaches.
TOUR_LAYERS = ("skip", "merge", "ann_build", "ann", "hybrid")
#: Status-store counters reported per layer; the record's spans carry
#: every counter of ``spans.COUNTERS``.
LAYER_COUNTERS = (
    "jobs",
    "tasks",
    "exec_run_s",
    "exec_cpu_s",
    "input_bytes",
    "output_bytes",
    "shuffle_bytes",
    "spill_bytes",
)


def configure_host(work: str) -> dict:
    """Size the session to this host and keep Spark's files in ``work``.

    Runs before pyspark is imported. Cores come from the CPU affinity and
    the JVM heap is a quarter of available memory (1-2 GiB); values
    already in the environment win.
    """
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    with open("/proc/meminfo") as f:
        avail_kb = next(int(l.split()[1]) for l in f if l.startswith("MemAvailable:"))
    os.environ.setdefault(
        "SPARK_GRAFT_DRIVER_MEM", f"{max(1, min(2, avail_kb // (4 << 20)))}g"
    )
    # Python workers import the package from the checkout, whatever the cwd
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # spark-submit's launcher JVM: no hsperfdata file in /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.retainedJobs=10000",
            "--conf spark.ui.retainedStages=10000",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            # no hsperfdata file in /tmp: the run writes only in the checkout
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
            "pyspark-shell",
        ]
    )
    return {
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "jvm_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "mem_available_gb": round(avail_kb / (1 << 20), 2),
    }


def stop_spark(spark) -> None:
    """Stop the session, its JVM and the JVM's Python workers; wait for all."""
    from spans import tree

    children = [pid for pid in tree(os.getpid()) if pid != os.getpid()]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in children:
        while os.path.exists(f"/proc/{pid}"):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)


def timing(samples: list[float]) -> dict:
    """Median, sample count and the highest of p75/p90/p99 that has at
    least ten samples beyond it (when one does)."""
    out = {"p50": statistics.median(samples), "n": len(samples)}
    tail = [p for p in (75, 90, 99) if len(samples) * (100 - p) / 100 >= 10]
    if tail:
        p = tail[-1]
        out[f"p{p}"] = statistics.quantiles(samples, n=100, method="inclusive")[p - 1]
    return out


def layer_metrics(
    spans: list[dict], tour_spans: list[dict], tour: dict, steps: list[dict], setup: dict, quality: dict
) -> dict:
    """Per-layer metrics: step layers averaged per traced step, tour
    layers summed over the tour, the session per run. Self figures
    (children taken out) except ``ann_build``'s counters, which include
    its ``kmeans`` and ``ivf_write`` children. Zero where a workload
    never calls the layer."""
    traced = [s for s in steps if s["traced"]]
    n = max(1, len(traced))
    out: dict[str, tuple[float, str]] = {}

    def unit(c: str) -> str:
        return "s" if c.endswith("_s") else ("bytes" if c.endswith("_bytes") else "count")

    def add(layer: str, mine: list[dict], per: int, part: str = "self") -> None:
        out[f"{layer}.self_s"] = (sum(s["self_s"] for s in mine) / per, "s")
        for c in LAYER_COUNTERS:
            out[f"{layer}.{c}"] = (sum(s[part][c] for s in mine) / per, unit(c))

    def named(pool: list[dict], name: str, **match) -> list[dict]:
        return [s for s in pool if s["name"] == name and all(s.get(k) == v for k, v in match.items())]

    for layer in STEP_LAYERS:
        add(layer, named(spans, layer), n)
    for layer in TOUR_LAYERS:
        add(layer, named(tour_spans, layer), 1, "total" if layer == "ann_build" else "self")

    def attr(pool: list[dict], layer: str, key: str) -> float:
        return sum(s.get(key, 0) for s in named(pool, layer))

    docs_in = attr(spans, "convert", "docs_in")
    failed = attr(spans, "convert", "docs_failed")
    knn_calls = named(spans, "knn")
    skip_ids = {s["id"] for s in named(tour_spans, "skip")}
    scanned = sum(s["docs_in"] for s in named(tour_spans, "convert") if s["parent"] in skip_ids)
    merged_in = {s["parent"] for s in named(tour_spans, "merge")}
    tour_commits = named(tour_spans, "commit")
    searches = [s["dur_s"] for s in named(tour_spans, "churn", op="search")]
    out.update(
        {
            "sources.files": (attr(spans, "sources", "files") / n, "count"),
            "convert.docs_failed": (failed / n, "count"),
            "convert.ok_ratio": ((docs_in - failed) / docs_in if docs_in else 0.0, "ratio"),
            "chunk.chunks_out": (attr(spans, "chunk", "chunks_out") / n, "count"),
            "commit.files_written": (attr(spans, "commit", "files_written") / n, "count"),
            "commit.bytes_written": (attr(spans, "commit", "bytes_written") / n, "bytes"),
            "commit.buckets_touched": (attr(spans, "commit", "buckets_touched") / n, "count"),
            "knn.ivf_branch": (
                sum(s["ivf_branch"] for s in knn_calls) / len(knn_calls) if knn_calls else 0.0,
                "ratio",
            ),
            "skip.docs_scanned": (scanned, "count"),
            "skip.docs_new": (tour.get("docs_new", 0), "count"),
            "skip.useful_ratio": (tour.get("docs_new", 0) / scanned if scanned else 0.0, "ratio"),
            "merge.bytes_rewritten": (
                sum(s["bytes_written"] for s in tour_commits if s["parent"] in merged_in),
                "bytes",
            ),
            "ann_build.kmeans_s": (sum(s["dur_s"] for s in named(tour_spans, "kmeans")), "s"),
            "ann_build.ivf_write_s": (sum(s["dur_s"] for s in named(tour_spans, "ivf_write")), "s"),
            "ann.recall_at_5": (tour.get("ann_recall", 0.0), "ratio"),
            "churn.upsert_s": (tour.get("upsert_s", 0.0), "s"),
            "churn.skip_s": (tour.get("skip_s", 0.0), "s"),
            "churn.delete_s": (tour.get("delete_s", 0.0), "s"),
            "churn.search_s": (statistics.median(searches) if searches else 0.0, "s"),
            "churn.write_amp": (
                sum(s["bytes_written"] for s in tour_commits) / tour["changed_text_bytes"]
                if tour.get("changed_text_bytes")
                else 0.0,
                "ratio",
            ),
            "session.build_s": (setup["build_s"], "s"),
            "session.warmup_s": (setup["prepare_s"], "s"),
        }
    )
    # the two search streams of retrieval apart: what result reuse should
    # speed up (session, with its share of repeated queries) and what it
    # must leave alone (fresh)
    plain_steps = [s for s in steps if not s["traced"]]
    for stream in ("session", "fresh"):
        t = [s["ops"][f"search_{stream}"] for s in plain_steps if f"search_{stream}" in s["ops"]]
        out[f"search.{stream}_s"] = (statistics.median(t) if t else 0.0, "s")
    out["search.repeat_share"] = (quality.get("repeat_share", 0.0), "ratio")
    plain = [s["step_s"] for s in plain_steps]
    if traced and plain:
        t, u = statistics.median(s["step_s"] for s in traced), statistics.median(plain)
        out["trace.overhead_s"] = (t - u, "s")
        out["trace.overhead_ratio"] = ((t - u) / u, "ratio")
    else:
        out["trace.overhead_s"] = (0.0, "s")
        out["trace.overhead_ratio"] = (0.0, "ratio")
    out["trace.steps"] = (float(len(traced)), "count")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest_cold", "retrieval"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # The program under test lives next to this directory.
    if not os.path.isfile(os.path.join(ROOT, "data_etl_spark", "etl.py")):
        print(f"no data_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts"), HERE]

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(OUT, f"work-{run_id}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, run_id, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, run_id: str, work: str) -> int:
    sizing = configure_host(work)

    from _loadgate import FAULT_PROBE_MIN_GBS
    from gen import make_corpus
    from spans import RssSampler, StatusStore, Tracer, host_health, steal_share, tree_usage
    from workloads import WORKLOADS

    health_start = host_health()
    folder = os.path.join(work, "input", "docs")
    corpus_seed = WORKLOADS[args.workload].CORPUS_SEED
    manifest = make_corpus(folder, args.seed if corpus_seed is None else corpus_seed, N_DOCS)

    with RssSampler(os.getpid()) as rss:
        cpu0, _ = tree_usage(os.getpid())
        t0 = time.perf_counter()
        from data_etl_spark.session import build_session

        spark = build_session(f"perfbench-{args.workload}")
        build_s = time.perf_counter() - t0
        try:
            wl = WORKLOADS[args.workload](spark, work, folder, manifest, args.seed)
            tracer = Tracer(StatusStore(spark), run_id) if args.trace else None
            t1 = time.perf_counter()
            parts = wl.prepare()
            setup = {
                "build_s": build_s,
                "prepare_s": time.perf_counter() - t1,
                "cpu_s": tree_usage(os.getpid())[0] - cpu0,
                **parts,
            }
            steps, attempted, failed = _window(args, wl, tracer)
            quality = wl.check()
            spans = tracer.finish() if tracer else []
            tour, tour_spans = {}, []
            if args.trace:
                tour_tracer = Tracer(tracer.store, run_id + "-tour")
                try:
                    tour = wl.tour(tour_tracer)
                except Exception as exc:
                    wl.errors.append(f"tour: {exc!r}"[:500])
                    traceback.print_exc()
                tour_spans = tour_tracer.finish()
        finally:
            stop_spark(spark)
    health_end = host_health()

    for s in spans:
        # the converter must reject exactly the undecodable files
        if s["name"] == "convert" and (s["docs_in"], s["docs_failed"]) != (
            manifest["n_good"] + manifest["n_undecodable"], manifest["n_undecodable"]
        ):
            wl.errors.append(f"to_markdown saw {s['docs_in']} files, {s['docs_failed']} failed")
    ok_steps = [s for s in steps if "error" not in s]
    if not ok_steps:
        for e in wl.errors + [s["error"] for s in steps]:
            print(f"STEP FAILED: {e}", file=sys.stderr)
        return 1
    errors = wl.errors + [s["error"] for s in steps if "error" in s]
    plain = [s for s in ok_steps if not s["traced"]] or ok_steps
    setup_wall_s = setup["build_s"] + setup["prepare_s"]
    e2e = {
        # CPU seconds of set-up (JVM start, session, warm-up): on a shared
        # host the hypervisor steals up to a third of the CPU for minutes
        # at a time, which moves wall time by half and CPU time hardly at
        # all; the wall time is in the named line and the record
        "setup_s": (setup["cpu_s"], "s"),
        "step_cpu_s": (statistics.median(s["cpu_s"] for s in plain), "s"),
        # wall time with the stolen share taken out: waits, lost
        # parallelism and serial driver work still count in full
        "step_wall_s": (statistics.median(s["step_s"] * s["ran_share"] for s in plain), "s"),
        "peak_rss_mb": (rss.peak_bytes / (1 << 20), "MB"),
        "space_amp": (quality["space_amp"], "ratio"),
        "result_recall": (quality["result_recall"], "ratio"),
    }
    named = _named_metrics(args.workload, plain, setup_wall_s, rss.peak_bytes, quality, attempted, failed)
    steal = steal_share(health_start["cpu_ticks"], health_end["cpu_ticks"])
    degraded = (
        min(health_start["fault_probe_gbs"], health_end["fault_probe_gbs"]) < FAULT_PROBE_MIN_GBS
        or steal > MAX_STEAL
    )
    if args.trace:
        metrics = layer_metrics(spans, tour_spans, tour, ok_steps, setup, quality)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": {
            **sizing,
            "start": health_start,
            "end": health_end,
            "steal_share": steal,
            "degraded": degraded,
        },
        "manifest": {k: v for k, v in manifest.items() if k != "chunks_per_doc"},
        "setup": setup,
        "steps": steps,
        "named": named,
        "metrics": metrics,
        "tour": tour,
        "errors": errors,
        "spans": spans,
        "tour_spans": tour_spans,
    }
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1)

    if degraded:
        print(
            f"host degraded: fault probe {health_start['fault_probe_gbs']} -> "
            f"{health_end['fault_probe_gbs']} GB/s (healthy >= {FAULT_PROBE_MIN_GBS}), "
            f"CPU steal {steal:.1%} (healthy <= {MAX_STEAL:.0%}); run kept, flagged"
        )
    for e in errors:
        print(f"CHECK FAILED: {e}")
    print(
        f"{args.workload}: "
        + "; ".join(
            f"{k}={v:.4g} {u}" + (f" ({', '.join(f'{a}={b:.4g}' for a, b in t.items())})" if t else "")
            for k, (v, u, t) in named.items()
        )
    )
    print(
        json.dumps(
            {
                "correct": not errors,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if not errors else 1


def _window(args, wl, tracer) -> tuple[list[dict], int, int]:
    """The measured closed loop, for ``--seconds`` and at least
    the workload's ``MIN_STEPS`` steps. In a traced run odd steps are traced."""
    from spans import cpu_ticks, ran_share, steal_share, tree_usage
    from workloads import Layers

    steps: list[dict] = []
    failed = 0
    start = time.perf_counter()
    i = 0
    while True:
        traced = bool(args.trace) and i % 2 == 1
        p = wl.pipeline(i)
        rec: dict = {"i": i, "traced": traced}
        layers = Layers(tracer, p).install() if traced else None
        cpu0, flt0 = tree_usage(os.getpid())
        ticks0 = cpu_ticks()
        t0 = time.perf_counter()
        try:
            if traced:
                with tracer.span("etl", op=wl.name, step=i):
                    rec["items"], rec["ops"] = wl.step(p)
            else:
                rec["items"], rec["ops"] = wl.step(p)
        except Exception as exc:
            failed += 1
            rec["error"] = f"step {i}: {exc!r}"[:500]
            traceback.print_exc()
        finally:
            if layers is not None:
                layers.restore()
        rec["step_s"] = time.perf_counter() - t0
        ticks1 = cpu_ticks()
        rec["steal_share"] = steal_share(ticks0, ticks1)
        rec["ran_share"] = ran_share(ticks0, ticks1)
        cpu1, flt1 = tree_usage(os.getpid())
        rec["cpu_s"], rec["minflt"] = cpu1 - cpu0, flt1 - flt0
        steps.append(rec)
        i += 1
        if time.perf_counter() - start >= args.seconds and i >= wl.MIN_STEPS:
            return steps, i, failed


def _named_metrics(workload, steps, setup_wall_s, peak_rss, quality, attempted, failed) -> dict:
    """The workload's metrics under their own names:
    (value, unit, {sample count and tail percentile} for timings)."""
    out = {
        "setup_wall_s": (setup_wall_s, "s", {}),
        "error_rate": (failed / attempted, "ratio", {}),
        "peak_rss_mb": (peak_rss / (1 << 20), "MB", {}),
    }
    if workload == "ingest_cold":
        pf = timing([s["ops"]["process_folder"] for s in steps])
        out["ingest_docs_per_s"] = (steps[0]["items"] / pf.pop("p50"), "1/s", pf)
        out["space_amp"] = (quality["space_amp"], "ratio", {})
    else:
        for stream in ("session", "fresh"):
            t = timing([s["ops"][f"search_{stream}"] for s in steps])
            out[f"search_{stream}_p50_s"] = (t.pop("p50"), "s", t)
        total = sum(s["step_s"] for s in steps)
        out["retrieval_queries_per_s"] = (
            sum(s["items"] for s in steps) / total, "1/s", {"n": len(steps)}
        )
        out["repeat_share"] = (quality["repeat_share"], "ratio", {})
        out["search_recall_at_5"] = (quality["result_recall"], "ratio", {})
    return out


if __name__ == "__main__":
    sys.exit(main())
