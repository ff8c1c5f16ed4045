"""CLI entry point: ``python -m lightlane_spark run <spec.json>``.

The reference ships its jobs as small driver scripts around
``SQLDumper``/``HiveLoader`` kwargs; here the same job is a JSON spec
(see ``lightlane_spark.jobspec``) and one command runs it:

    python -m lightlane_spark run job.json
    python -m lightlane_spark explain job.json   # dry-run plan, no execution
    python -m lightlane_spark lineage job.json   # per-output-column sources

``run`` prints one JSON line of pipeline metrics (observed row counts
per stage + elapsed seconds) to stdout; ``explain`` prints the
formatted physical plan of the pipeline's final frame so a spec can
be plan-reviewed before burning cluster hours; ``lineage`` prints one
JSON object mapping every output column to the leaf-relation columns
it derives from (impact analysis, no execution).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="lightlane_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)
    for cmd in ("run", "explain", "lineage"):
        p = sub.add_parser(cmd)
        p.add_argument("spec", help="path to a JSON job spec")
        p.add_argument("--master", default=None, help="Spark master override")
        p.add_argument(
            "--shuffle-partitions", type=int, default=None, dest="shuffle_partitions"
        )
    args = parser.parse_args(argv)

    with open(args.spec) as f:
        spec = json.load(f)

    from lightlane_spark.jobspec import build_pipeline
    from lightlane_spark.session import get_spark

    conf = {}
    if args.shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(args.shuffle_partitions)
    spark = get_spark(app_name=f"lightlane-{args.cmd}", master=args.master, extra_conf=conf)
    pipeline = build_pipeline(spark, spec)
    if args.cmd == "lineage":
        from lightlane_spark.plans.lineage import column_lineage

        rep = column_lineage(pipeline.dataframe())
        print(
            json.dumps(
                {
                    "leaves": rep.leaves,
                    "columns": {
                        c.name: {
                            "sources": sorted(f"{l}.{col}" for l, col in c.sources),
                            "opaque": c.opaque,
                        }
                        for c in rep.columns
                    },
                },
                sort_keys=True,
            )
        )
        return 0
    if args.cmd == "explain":
        from lightlane_spark.plans.explain import dry_run, lint_plan

        df = pipeline.dataframe()
        print(dry_run(df, "formatted"))
        for w in lint_plan(df):
            print(f"WARNING: {w}", file=sys.stderr)
        return 0
    metrics = pipeline.run()
    print(json.dumps(metrics, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
