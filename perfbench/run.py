"""The engine's benchmark: cold calls of registry keys, end to end and
layer by layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One run, in one process on ``local[nproc]`` sized to the host
(``perfbench/env.py``):

1. set-up (``setup_s``): import the package, start the session, load
   the query registry;
2. generate the workload's tables from ``--seed`` (``perfbench/gen.py``);
3. check every key's output once, outside the timed window: keys with
   an oracle are compared with DuckDB through ``tests/harness.compare``,
   rows-only keys must return a non-empty result with the columns they
   declare;
4. warm up with the workload's untimed passes, on the timed path;
5. run passes over the workload's keys until ``--seconds`` have passed
   and the workload's minimum number of passes is done; ``pass_s`` is a
   steady pass: the sum over keys of each key's median call time.
   Every call is cold: ``clearCache``, build the DataFrame, materialise
   every column with the ``noop`` sink.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` wraps the
package's layers (``perfbench/layers.py``), alternates untraced and
traced passes (starting and ending untraced), reports per-layer medians
over the traced passes plus the tracing overhead (traced minus
untraced ``pass_s``), and writes the spans to
``perfbench/_work/traces/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it describes the host and the generated data.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass
from typing import Any

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, "_work")
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import env  # noqa: E402

# The screening task's featurise-and-train steps on the Zipf corpus:
# tf-idf featurisation, whose term frequencies stay cached after the
# call (txt_tfidf_topk), and a multinomial Naive Bayes fit and scoring
# on hashed TF (ml_nb), whose label is whether a record contains 'spark'
# (about 7% of records, gen.LABEL_RANK); the fit runs its jobs while the
# DataFrame is built. Left out: ml_screen_e2e (~50 jobs and ~5 s a call
# whatever the corpus size, 16 s cold) and ml_lr (20 fit iterations,
# twice ml_nb's time and a longer JIT ramp); either leaves no room in a
# run for the warm-up and timed passes.
SCREENING = ("txt_tfidf_topk", "ml_nb")
# Keys whose DataFrame construction outweighs their execution on tiny
# tables: driver-side work (py4j round trips, schema inference,
# expression building), not data. Picked once by a rule and frozen: of
# every 8th sorted registry key (leaving out stream_* keys and
# dedup_minhash), those that launched no job while building (table reads
# aside) and whose traced build time exceeded 1.5 times their exec time,
# after one warm-up call, on the SF 0.001 tables.
CONSTRUCT = (
    "agg_having", "fn_array", "fn_epoch", "fn_mask", "fn_url", "join_cross",
    "sink_zorder", "sql_lateral_view", "src_medline", "txt_chunk",
    "txt_fingerprint", "wl_diff_in_diff", "wl_q19_disjunct",
)


@dataclass(frozen=True)
class Workload:
    keys: tuple[str, ...]
    spec: Any  # gen.Spec
    warmup: int  # untimed passes before the timed window
    passes: int  # timed passes, at least (more if --seconds is not yet up)


def workloads() -> dict[str, Workload]:
    """Sized so that one run takes 45-60 s on a 4-CPU host: set-up
    ~10 s, the cold check ~18 s, then warm-up and timed passes of
    2.5-4 s. Each key keeps getting faster for about five calls while
    the JIT compiles, so the check plus the warm-up passes cover that
    before timing starts."""
    from gen import Spec

    return {
        "screening-zipf": Workload(
            SCREENING, Spec(docs=1000, doc_len=(200, 300), zipf=True), 3, 4
        ),
        "construct-sf0.001": Workload(CONSTRUCT, Spec(), 3, 4),
    }


END_TO_END = {"setup_s": "s", "pass_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "sources.load_calls": "count",
    "sources.load_s": "s",
    "sources.load_jobs": "count",
    "functions.calls": "count",
    "functions.s": "s",
    "py4j.calls": "count",
    "operators.build_s": "s",
    "operators.build_self_s": "s",
    "operators.build_jobs": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_skew": "ratio",
    "cache.rdds": "count",
    "cache.bytes": "bytes",
    "trace.overhead_s": "s",
}


def check(s: env.Setup, sf_dir: str, keys) -> tuple[list[tuple[str, str]], dict]:
    """Output check of every key, outside the timed window; returns
    (key, error) pairs and each key's check time."""
    from tests.harness import compare, duck_con

    con = duck_con(sf_dir)
    fails, times = [], {}
    try:
        for k in keys:
            t0 = time.perf_counter()
            s.spark.catalog.clearCache()
            try:
                df = s.queries[k](s.spark, sf_dir)
                if k in s.oracles:
                    compare(df, con, s.oracles[k], k)
                else:
                    pdf = df.toPandas()
                    if list(pdf.columns) != df.columns or not df.columns or len(pdf) == 0:
                        raise AssertionError(f"[{k}] empty result or schema mismatch")
            except Exception as e:  # noqa: BLE001 — every failure is counted
                fails.append((k, str(e).split("\n")[0][:200]))
            times[k] = round(time.perf_counter() - t0, 3)
    finally:
        con.close()
    return fails, times


def cold_call(s: env.Setup, key: str, sf_dir: str, tracer=None) -> None:
    """One cold call: clear the cache, build, materialise every column."""
    s.spark.catalog.clearCache()
    if tracer is None or not tracer.enabled:
        s.queries[key](s.spark, sf_dir).write.format("noop").mode("overwrite").save()
        return
    tracer.call = len(tracer.spans)
    with tracer.span("call", key=key) as rec:
        tracer.set_group(f"{tracer.call}:build")
        with tracer.span("build"), tracer.building():
            df = s.queries[key](s.spark, sf_dir)
        tracer.set_group(f"{tracer.call}:exec")
        with tracer.span("exec"):
            df.write.format("noop").mode("overwrite").save()
        tracer.set_group(None)
        rec["cached_rdds"], rec["cached_bytes"] = tracer.cache_stats()


def one_pass(s: env.Setup, keys, sf_dir: str, tracer, fails: list) -> dict[str, float]:
    """One cold call of each key; returns each successful call's time and
    appends (key, error) to ``fails`` for the others."""
    times = {}
    for k in keys:
        tc = time.perf_counter()
        try:
            cold_call(s, k, sf_dir, tracer)
        except Exception as e:  # noqa: BLE001 — counted, the run goes on
            fails.append((k, str(e).split("\n")[0][:200]))
            continue
        times[k] = time.perf_counter() - tc
    return times


def cpu_calibration() -> float:
    """Seconds for a fixed single-thread Python loop: a host-speed yardstick."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return time.perf_counter() - t0


def wrap_layers(tracer) -> None:
    """Wrap ``tracer`` around the package's layers. Runs between session
    start and registry load (``env.start``'s ``before_load``), so that
    operator modules import the wrapped functions."""
    from pyspark.sql import SparkSession

    import systematic_review_classification_spark.functions.predicates as fp
    import systematic_review_classification_spark.functions.ranks as fr
    import systematic_review_classification_spark.functions.scalar as fs
    import systematic_review_classification_spark.functions.udfs as fu
    import systematic_review_classification_spark.sources.tables as tables
    from systematic_review_classification_spark import registry

    # query functions the imports above registered; all_queries() would
    # import every operator module before the wrapping
    skip = {id(f) for f in registry._QUERIES.values()}
    tracer.install(SparkSession.getActiveSession(), tables, (fp, fr, fs, fu), skip)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Cold-call benchmark of the query registry.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    work = os.path.join(WORK, f"run-{os.getpid()}")
    env.prepare(work)
    from gen import generate  # after prepare(): numpy/pyarrow honour TMPDIR

    wl = workloads()
    if a.workload not in wl:
        ap.error(f"unknown workload {a.workload!r}; choose from {sorted(wl)}")
    w = wl[a.workload]
    tracer = s = None
    if a.trace:
        from layers import Tracer

        tracer = Tracer()
    try:
        t0 = time.perf_counter()
        s = env.start(None if tracer is None else lambda: wrap_layers(tracer))
        t1 = time.perf_counter()
        sf_dir = os.path.join(work, "data")
        data = generate(sf_dir, a.seed, w.spec)
        t2 = time.perf_counter()
        fails, check_s = check(s, sf_dir, w.keys)
        attempted = len(w.keys)
        # Untimed warm-up through the timed path: the first passes of a
        # fresh JVM keep getting faster while the JIT compiles.
        t3 = time.perf_counter()
        for _ in range(w.warmup):
            attempted += len(w.keys)
            one_pass(s, w.keys, sf_dir, None, fails)
        t4 = time.perf_counter()

        # Timed window. Trace runs alternate untraced and traced passes,
        # starting and ending untraced.
        passes: dict[bool, list[float]] = {False: [], True: []}
        totals: list[dict] = []  # per traced pass
        call_s: dict[str, list[float]] = {k: [] for k in w.keys}  # untraced calls
        traced = False
        t_end = time.perf_counter() + a.seconds
        while True:
            if tracer is not None:
                tracer.enabled = traced
                span0, py4j0 = len(tracer.spans), tracer.py4j_calls
            tp = time.perf_counter()
            times = one_pass(s, w.keys, sf_dir, tracer, fails)
            passes[traced].append(time.perf_counter() - tp)
            attempted += len(w.keys)
            if not traced:
                for k, x in times.items():
                    call_s[k].append(x)
            if tracer is not None:
                if traced:
                    tracer.enabled = False
                    totals.append(tracer.totals(span0, py4j0))
                traced = not traced
            if time.perf_counter() >= t_end and (
                len(passes[False]) > len(passes[True]) > 0
                if tracer is not None
                else len(passes[False]) >= w.passes
            ):
                break
        failed = len(fails)

        med = statistics.median
        if tracer is None:
            metrics = {"setup_s": s.setup_s, "pass_s": sum(med(v) for v in call_s.values() if v)}
            units = END_TO_END
        else:
            metrics = {
                "session.start_s": s.session_s,
                "registry.load_s": s.registry_s,
                "trace.overhead_s": med(passes[True]) - med(passes[False]),
            }
            for name in PER_LAYER:
                metrics.setdefault(name, med(m.get(name, 0) for m in totals))
            units = PER_LAYER
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            trace_file = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.json")
            tracer.write(trace_file, workload=a.workload, seed=a.seed)

        print(json.dumps({
            "workload": a.workload,
            "seed": a.seed,
            "cpus": env.host_cpus(),
            "heap_mb": env.host_heap_mb(),
            "load1": round(os.getloadavg()[0], 2),
            "cpu_calib_s": round(cpu_calibration(), 4),
            "data": data,
            "phases_s": {
                "setup": round(t1 - t0, 3),
                "generate": round(t2 - t1, 3),
                "check": round(t3 - t2, 3),
                "warmup": round(t4 - t3, 3),
                "timed": round(sum(passes[False]) + sum(passes[True]), 3),
            },
            "passes_s": {"untraced": passes[False], "traced": passes[True]},
            "check_s": check_s,
            "call_s": {k: [round(x, 3) for x in v] for k, v in call_s.items()},
            "failures": fails,
            **({"trace_file": os.path.relpath(trace_file, env.ROOT)} if tracer else {}),
        }))
    finally:
        if s is not None:
            env.stop(s.spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
