#!/usr/bin/env python
"""Dump query plans into plans/<tag>/.

With query names, each named query's ``.explain("formatted")`` goes to
``plans/<tag>/<query>_<suffix>.txt``:

    python tools_plandump.py --tag r13 --suffix before --sf-dir /root/testdata/sf0.1 q1 q2 ...

With no names, every registered query's optimized logical plan goes to
``plans/<tag>/<query>.txt`` (the plan census), in a form that compares
across processes and trees:

- expression ids (``#123``, ``#123L``) and the counter suffix of lambda
  variables (``x_12``) are numbered by first appearance in the plan;
- ``spark.sql.debug.maxToStringFields`` is raised, so no field list is
  truncated;
- each distinct-aggregate ``Expand`` has its grouping columns and
  projections sorted and its group ids renumbered in that order, since
  Spark's distinct-aggregate rewrite orders the distinct groups by hash
  (of expression ids), which changes from run to run;
- the generated name of an ``Observation`` and the dataset id in each
  ``CollectMetrics`` node are numbered by first appearance;
- the optimized plan of every frame the build passes to
  ``lineage.pin`` follows the query's own, in call order, so work
  below a lineage cut (an iterative loop's rounds, a pinned
  intermediate) shows in the dump and not only the ``LogicalRDD`` that
  reads it. The whole dump is normalized in one pass, so an expression
  id keeps one number across the query's plan and its pins' plans.

So ``diff -r`` of two trees' dumps, each made in its own checkout with
the same ``--tag`` and SF directory, decides "plans identical" in one
run:

    python tools_plandump.py --tag census --sf-dir <sf0.01 directory>
    diff -r <tree A>/plans/census <tree B>/plans/census
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_EXPR_ID = re.compile(r"#(\d+)L?\b")
_LAMBDA = re.compile(r"(?<=lambda )([A-Za-z]+)_\d+\b")
_METRICS = re.compile(r"(?<=CollectMetrics )([^,]+)(, .*, )(\d+)$", re.M)


def _split(text: str) -> list[str]:
    """Split at the commas outside any bracket."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(text):
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(text[start:i].strip())
            start = i + 1
    out.append(text[start:].strip())
    return out


def _bare(text: str) -> str:
    return _EXPR_ID.sub("", text)


def _sort_expands(plan: str) -> str:
    """Put each distinct-aggregate ``Expand`` (the one with a ``gid``
    output) in one canonical order: its grouping columns sorted by
    name, its projections sorted, and the group ids renumbered in that
    order. The same order is applied to the column lists and ``gid``
    comparisons of the operators above it."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        head, sep, rest = line.partition("Expand ")
        parts = _split(rest) if sep else []
        if len(parts) != 2:
            continue
        rows = [_split(r[1:-1]) for r in _split(parts[0][1:-1])]
        outs = _split(parts[1][1:-1])
        gid = next((g for g, o in enumerate(outs) if re.fullmatch(r"gid#\d+", o)), None)
        if gid is None or any(len(r) != len(outs) for r in rows):
            continue
        perm = sorted(range(gid), key=lambda c: _bare(outs[c]))
        new_outs = [outs[c] for c in perm] + outs[gid:]
        new_rows = sorted(
            ([r[c] for c in perm] + r[gid:] for r in rows),
            key=lambda r: _bare(", ".join(r[:gid] + r[gid + 1 :])),
        )
        remap = {r[gid]: str(k) for k, r in enumerate(new_rows)}
        for r in new_rows:
            r[gid] = remap[r[gid]]
        body = ", ".join("[" + ", ".join(r) + "]" for r in new_rows)
        lines[i] = f"{head}Expand [{body}], [{', '.join(new_outs)}]"
        old_keys, new_keys = ", ".join(outs[: gid + 1]), ", ".join(new_outs[: gid + 1])
        gid_ref = re.compile(rf"(?<={re.escape(outs[gid])} = )(\d+)\b")
        for j in range(i):
            lines[j] = gid_ref.sub(
                lambda m: remap.get(m.group(1), m.group(1)),
                lines[j].replace(old_keys, new_keys),
            )
    return "\n".join(lines)


def normalize(plan: str) -> str:
    """The plan text with run-dependent numbering made canonical."""
    plan = _sort_expands(plan)
    observations: dict[str, str] = {}
    datasets: dict[str, str] = {}
    plan = _METRICS.sub(
        lambda m: observations.setdefault(m.group(1), f"observation_{len(observations)}")
        + m.group(2)
        + datasets.setdefault(m.group(3), str(len(datasets))),
        plan,
    )
    names: dict[str, str] = {}
    plan = _LAMBDA.sub(
        lambda m: names.setdefault(m.group(0), f"{m.group(1)}_{len(names)}"), plan
    )
    ids: dict[str, str] = {}
    return _EXPR_ID.sub(lambda m: "#" + ids.setdefault(m.group(1), str(len(ids))), plan)


def _record_pins() -> list:
    """Wrap ``lineage.pin`` so each frame it cuts is appended to the
    returned list. Call it before the query modules are imported: they
    bind ``pin`` by name at import, and ``pin_observed`` and ``advance``
    call the module global."""
    from kinesis_stream_spark.operators import lineage

    frames = []
    cut = lineage.pin

    def pin(df, *, eager=True):
        frames.append(df)
        return cut(df, eager=eager)

    lineage.pin = pin
    return frames


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="r13")
    ap.add_argument("--suffix")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    if args.names and not args.suffix:
        ap.error("--suffix is required with query names")

    pinned = [] if args.names else _record_pins()
    from kinesis_stream_spark.queries import all_queries
    from kinesis_stream_spark.session import get_spark

    spark = get_spark(
        "kinesis-stream-spark-plandump",
        extra_conf={"spark.sql.debug.maxToStringFields": str(1 << 20)},
    )
    registry = all_queries()
    outdir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", args.tag)
    os.makedirs(outdir, exist_ok=True)
    if not args.names:
        for name, build in registry.items():
            pinned.clear()
            plans = [_optimized(build(spark, args.sf_dir))]
            plans += [f"== pin {i} ==\n{_optimized(df)}" for i, df in enumerate(pinned, 1)]
            with open(os.path.join(outdir, f"{name}.txt"), "w") as fh:
                fh.write(normalize("\n".join(plans)) + "\n")
        print(f"{len(registry)} optimized plans -> {outdir}")
        return
    for name in args.names:
        df = registry[name](spark, args.sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        scans = plan.count("Scan parquet")
        print(
            f"{name}: {len(plan.splitlines())} lines, {scans} parquet scans,"
            f" {plan.count('Exchange')} Exchange -> {path}"
        )


if __name__ == "__main__":
    main()
