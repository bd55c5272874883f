"""Registry-wide sweeps on the engine's own session (``get_session``).

Usage::

    python tools/sweep.py profile [sf_dir] > profile.json
    python tools/sweep.py audit [sf_dir] > plan_audit.json
    python tools/sweep.py explain OUTDIR SUFFIX key [key ...]

``profile`` — runtime profile: executes EVERY registered key once at
``sf_dir`` (default sf0.1, the driver's bench scale) and prints a JSON
report of per-key wall seconds, sorted slowest-first, plus host load.
The bench times 13 headline keys; the other ~430 normally execute only
at sf0.001/sf0.01 in the test tiers, so a key could hide a straggler
shape that plan-reading misses (a skewed exchange, an oversized
state). Each key runs once: compare magnitudes and ranks, not third
decimals.

``audit`` — physical-plan audit: builds every key at ``sf_dir``
(default sf0.001) and prints, per key, the plan features that matter
at 100 TB:

- ``cartesian``   — CartesianProduct nodes (both sides unbounded: the
                    one shape that can never ship)
- ``bnlj``        — BroadcastNestedLoopJoin nodes (fine ONLY when the
                    broadcast side is a 1-row scalar aggregate or a
                    bounded literal relation)
- ``single_part`` — ``Exchange SinglePartition`` nodes (global sorts /
                    windows / single-reducer aggregates; fine only on
                    already-reduced relations)
- ``py_eval``     — row-at-a-time BatchEvalPython nodes (the slow path;
                    Arrow nodes are reported separately)

tests/test_plan_lint.py enforces the cartesian/BNLJ findings with a
curated allowlist; this mode derives that allowlist's evidence under
the same session configuration the lint runs with.

``explain`` — writes ``OUTDIR/<key>_<SUFFIX>.txt``, the formatted plan
of each given key at ``$SPARK_GRAFT_SF_DIR`` (default sf0.1).

The repo root on ``sys.path`` is derived from this file's location, so
a checkout of an older commit sweeps its own code (e.g. "before" plans
from the old checkout, "after" plans from HEAD).
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from systematic_review_classification_spark import all_queries, get_session  # noqa: E402
from tests.harness import plan_of  # noqa: E402


def _first_line(e: Exception) -> str:
    return str(e).split("\n")[0][:160]


def profile(spark, queries, sf_dir: str = "/root/testdata/sf0.1") -> None:
    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    for key, fn in queries.items():
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).count()
            times[key] = round(time.perf_counter() - t0, 3)
        except Exception as e:  # noqa: BLE001 — profile must finish
            errors[key] = _first_line(e)
        # 446 keys in ONE JVM: several operators persist loop
        # invariants, and the accumulated cache killed the JVM ~270
        # keys in (r11). Drop each key's cache before moving on.
        try:
            spark.catalog.clearCache()
        except Exception:  # noqa: BLE001 — cache state is best-effort
            pass
    try:
        load1, _, load15 = os.getloadavg()
    except OSError:
        load1 = load15 = -1.0
    report = {
        "sf_dir": sf_dir,
        "n_keys": len(times) + len(errors),
        "total_sec": round(sum(times.values()), 1),
        "load1": round(load1, 2),
        "load15": round(load15, 2),
        "slowest": dict(sorted(times.items(), key=lambda kv: -kv[1])[:30]),
        "errors": errors,
        "times": dict(sorted(times.items())),
    }
    json.dump(report, sys.stdout, indent=1)
    print()


def plan_features(plan: str) -> dict:
    return {
        "cartesian": plan.count("CartesianProduct"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "single_part": plan.count("Exchange SinglePartition"),
        "py_eval": plan.count("BatchEvalPython"),
        "arrow_eval": plan.count("ArrowEvalPython")
        + plan.count("FlatMapGroupsInPandas")
        + plan.count("MapInPandas")
        + plan.count("FlatMapCoGroupsInPandas"),
    }


def audit(spark, queries, sf_dir: str = "/root/testdata/sf0.001") -> None:
    out: dict[str, dict] = {}
    for key, fn in queries.items():
        try:
            out[key] = plan_features(plan_of(fn(spark, sf_dir)))
        except Exception as e:  # noqa: BLE001 — audit must cover the registry
            out[key] = {"error": _first_line(e)}
    json.dump(out, sys.stdout, indent=1, sort_keys=True)
    print()


def explain(spark, queries, outdir: str, suffix: str, *keys: str) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)
    for key in keys:
        plan = plan_of(queries[key](spark, sf_dir))
        path = os.path.join(outdir, f"{key}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


MODES = {"profile": profile, "audit": audit, "explain": explain}


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in MODES:
        sys.exit(__doc__)
    mode, args = sys.argv[1], sys.argv[2:]
    spark = get_session(app_name=f"sweep-{mode}")
    spark.sparkContext.setLogLevel("ERROR")
    MODES[mode](spark, all_queries(), *args)


if __name__ == "__main__":
    main()
