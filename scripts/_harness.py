"""The one place that runs and times a query, shared by bench.py and the
timing scripts in scripts/: the noop sink, the sf0.001 warm-up, the
timed rep loop with its drain, conf arms, and the host gate at both ends.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from _loadgate import fault_probe, wait_fault_probed, wait_quiet  # noqa: E402

from data_etl_spark.cache import release_tracked  # noqa: E402
from data_etl_spark.plans import REGISTRY  # noqa: E402
from data_etl_spark.session import prep  # noqa: E402

WARM_DIR = "/root/testdata/sf0.001"


def error_text(exc: BaseException) -> str:
    """``Type: message`` of a failed query's ``exc``, cut to 300 chars: the
    repr of a Spark ``AnalysisException`` is a bare ``AnalysisException()``."""
    return f"{type(exc).__name__}: {exc}"[:300]


def materialize(df) -> None:
    """Compute every column of ``df`` through the noop sink: nothing is
    collected, and unlike ``count()`` no column is pruned."""
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, names) -> None:
    """One sf0.001 run of each registry query in ``names``, each drained,
    so timed reps see a warm JVM (JIT, codegen cache, shuffle machinery).
    A failing query is reported, not raised."""
    if not os.path.isdir(WARM_DIR):
        print(f"warmup skipped: no {WARM_DIR}", file=sys.stderr)
        return
    for name in names:
        try:
            materialize(REGISTRY[name].fn(spark, WARM_DIR))
        except Exception as exc:
            print(f"warmup FAILED {name}: {error_text(exc)}", file=sys.stderr)
        finally:
            release_tracked()


def build_arm(spark, name: str, confs: dict[str, str], sf_dir: str):
    """Registry query ``name`` over ``sf_dir``, built with ``confs`` set.

    The registry wrapper runs prep(), which resets the keys it manages
    (shuffle.partitions, AQE, advisoryPartitionSizeInBytes, ...): setting
    an arm's confs before calling it would build every arm with the
    shipped values. So prep() runs first, then the arm's confs are set,
    then the unwrapped plan function builds. The confs are set again
    after the build because a plan that calls another registered query
    re-runs prep() on the way.
    """
    prep(spark)
    for key, value in confs.items():
        spark.conf.set(key, value)
    df = REGISTRY[name].fn.__wrapped__(spark, sf_dir)
    for key, value in confs.items():
        spark.conf.set(key, value)
    return df


def timed(build, reps: int = 1, tracker=None) -> list[tuple[float, dict | None]]:
    """Time ``reps`` noop-sink runs of ``build()``, a zero-argument
    callable returning a fresh DataFrame; the build is timed too, because
    eager checkpoints and gate jobs run there. Returns (seconds,
    ``tracker``'s snapshot or None) per rep.

    Every rep ends with ``release_tracked()``, also when it raises: a
    plan-internal persist left behind would let the next rep (or query)
    read cached blocks instead of running its plan, and a min-of-N
    would keep that cheaper rep."""
    out = []
    for _ in range(reps):
        if tracker is not None:
            tracker.snapshot()  # move the watermark past inter-rep work
        try:
            t0 = time.perf_counter()
            materialize(build())
            sec = round(time.perf_counter() - t0, 3)
            out.append((sec, tracker.snapshot() if tracker is not None else None))
        finally:
            release_tracked()
    return out


def best_of(build, reps: int = 2) -> float:
    """The minimum over ``reps`` timed runs of ``build()``."""
    return min(sec for sec, _ in timed(build, reps))


def sweep(spark, names, sf_dir: str, passes: int = 1, tracker=None):
    """Time each registry query in ``names`` at ``sf_dir`` once per pass.

    Passes are outermost, so a query's reps sit a whole pass apart and
    one host stall cannot hit all of them. Yields (name, seconds,
    metrics, error) per run: a failing query yields its error (seconds
    and metrics ``None``) and the rest keep timing."""
    for _ in range(passes):
        for name in names:
            try:
                [(sec, metrics)] = timed(lambda: REGISTRY[name].fn(spark, sf_dir), 1, tracker)
            except Exception as exc:
                err = error_text(exc)
                print(f"bench FAILED {name}: {err}", file=sys.stderr, flush=True)
                yield name, None, None, err
                continue
            yield name, sec, metrics, None


def retime_movers(spark, timings: dict[str, float], sf_dir: str, is_mover) -> list[str]:
    """Time once more every query that ``is_mover(name, seconds)`` flags
    and keep the faster run: a single pass on a shared box conflates
    stragglers (a GC pause, a noisy neighbour) with plans. Updates
    ``timings`` in place and returns the re-timed names."""
    movers = [name for name, sec in sorted(timings.items()) if is_mover(name, sec)]
    retimed = []
    for name, sec, _, err in sweep(spark, movers, sf_dir):
        if err:
            continue
        first = timings[name]
        timings[name] = min(first, sec)
        retimed.append(name)
        print(f"re-timed {name}: {first:.2f} -> min {timings[name]:.2f}", file=sys.stderr, flush=True)
    return retimed


def latest_bench_full(exclude: str | None = None) -> tuple[str | None, dict]:
    """(file name, contents) of the most recent ``BENCH_FULL_r*.json`` in
    the repo other than ``exclude``; (None, {}) if there is none."""
    files = sorted(
        f
        for f in os.listdir(REPO)
        if f.startswith("BENCH_FULL_r") and f.endswith(".json") and f != exclude
    )
    if not files:
        return None, {}
    with open(os.path.join(REPO, files[-1])) as f:
        return files[-1], json.load(f)


def host_gate() -> dict:
    """Wait, bounded, for a quiet 1-min loadavg and then for a healthy
    first-touch page-fault rate; call before the session starts, since
    the warm-up itself saturates the cores. Returns the readings at go
    and the waivers (true: the host never got healthy within the wait,
    so wall numbers carry ambient contention or stalls)."""
    loadavg_go, load_waiver = wait_quiet()
    fault_probe_go, stall_waiver = wait_fault_probed()
    return {
        "loadavg_go": round(loadavg_go, 2),
        "load_waiver": load_waiver,
        "fault_probe_go": round(fault_probe_go, 2),
        "stall_waiver": stall_waiver,
    }


def host_gate_end() -> dict:
    """The host's load and page-fault rate at the end of the run: a run
    that started healthy can still end in a degraded window."""
    return {
        "loadavg_end": list(os.getloadavg()),
        "fault_probe_end": round(fault_probe(), 2),
    }


def sf_value(sf_dir: str) -> float | str:
    """The scale factor in a ``.../sf<N>`` directory name: a float when
    it parses, else the raw suffix."""
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        return float(sf)
    except ValueError:
        return sf
