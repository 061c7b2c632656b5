#!/usr/bin/env python3
"""Self-test of the benchmark.

    python3 perfbench/selftest.py

1. No timed path calls ``.count()``: the functions named in
   ``workloads.TIMED_PATHS``, and every function of ``workloads.py``
   they call, are scanned for a ``.count(...)`` call.  ``count()`` lets
   Catalyst prune the projections, windows and joins a query declares.
2. The metric names ``run.py`` reports are the ones BENCHMARK.json
   declares.
3. The timed q_resample plan still contains its Window and its Join
   (the nodes ``count()`` pruned away), checked on a small generated
   star schema in a local Spark session.

Exits 0 when all hold.
"""

from __future__ import annotations

import ast
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def timed_paths_without_count() -> list[str]:
    """``.count()`` calls reachable from the timed paths, as
    ``function:line`` strings (empty when there are none)."""
    import workloads

    with open(os.path.join(HERE, "workloads.py")) as f:
        tree = ast.parse(f.read())
    funcs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    todo, seen, found = list(workloads.TIMED_PATHS), set(), []
    while todo:
        name = todo.pop()
        if name in seen or name not in funcs:
            continue
        seen.add(name)
        for node in ast.walk(funcs[name]):
            if not isinstance(node, ast.Call):
                continue
            if isinstance(node.func, ast.Attribute) and node.func.attr == "count":
                found.append(f"{name}:{node.lineno}")
            elif isinstance(node.func, ast.Name):
                todo.append(node.func.id)
            for arg in node.args:
                if isinstance(arg, ast.Name):
                    todo.append(arg.id)  # functions passed to Run.timed
    missing = set(workloads.TIMED_PATHS) - set(funcs)
    return found + [f"{m}: not defined" for m in sorted(missing)]


def metric_names_match() -> list[str]:
    """Names BENCHMARK.json and run.py disagree on (empty when none)."""
    import json

    import run

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = []
    for kind, names in (("end_to_end", set(run.END_TO_END_UNITS)),
                        ("per_layer", set(run.per_layer_units()))):
        declared = {m["name"] for m in spec[kind]}
        out += [f"{kind}: {n} not reported" for n in sorted(declared - names)]
        out += [f"{kind}: {n} not declared" for n in sorted(names - declared)]
    return out


def resample_plan_keeps_window_and_join() -> bool:
    import tempfile

    import gen
    import run
    from workloads import resample_plan

    os.makedirs(run.STATE, exist_ok=True)
    run.adopt_orphans()
    with tempfile.TemporaryDirectory(dir=run.STATE) as tmp:
        run._prepare_env(2, tmp)
        from cosmap_spark.queries import all_queries
        from cosmap_spark.session import get_spark

        data = os.path.join(tmp, "ledger")
        os.makedirs(data)
        gen.ledger_tables(data, seed=1, sf=0.001)
        spark = get_spark(app_name="perfbench-selftest", master="local[2]",
                          extra_conf={"spark.ui.enabled": "false",
                                      "spark.ui.showConsoleProgress": "false"})
        try:
            plan = resample_plan(all_queries(), spark, data)
        finally:
            spark.stop()
            run.stop_processes()
    return "Window" in plan and "Join" in plan


def main() -> int:
    sys.path.insert(0, HERE)
    problems = timed_paths_without_count()
    print("timed paths without .count():",
          "ok" if not problems else f"FAIL {problems}")
    names = metric_names_match()
    print("metric names match BENCHMARK.json:",
          "ok" if not names else f"FAIL {names}")
    plan_ok = resample_plan_keeps_window_and_join()
    print("q_resample timed plan keeps Window and Join:",
          "ok" if plan_ok else "FAIL")
    return 0 if plan_ok and not problems and not names else 1


if __name__ == "__main__":
    sys.exit(main())
