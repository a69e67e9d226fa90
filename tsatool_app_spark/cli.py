"""Batch CLI — the tsabatch.py equivalent (SURVEY §3.1/§3.2).

Usage:
    python -m tsatool_app_spark -i sheets_dir/ -n myrun \\
        --obs-parquet /path/to/observations [--dry-validate] [-r results/]

Entry point 1 (full analysis): parse workbook → run every collection against
the observation store → write summary CSVs, timeline JSONs, error tree.
Entry point 2 (--dry-validate): parse + metadata validation only, exit code
1 if any errors (CI-gate semantics, tsabatch.py:89-107 / README.md:61-79).
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

from tsatool_app_spark import reports
from tsatool_app_spark.sources.metadata import read_metadata_csv, sensor_name_to_id
from tsatool_app_spark.sources.workbook import read_csv_workbook, read_xlsx_workbook


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="tsatool_app_spark", description="Sensor-condition batch analysis"
    )
    p.add_argument("-i", "--input", required=True, help="workbook .xlsx or directory of sheet CSVs")
    p.add_argument("-n", "--name", required=True, help="analysis name (results prefix)")
    p.add_argument("-r", "--results-dir", default="results")
    p.add_argument("--obs-parquet", help="observation store path (parquet)")
    p.add_argument("--sensors-csv", help="sensors metadata pipe-CSV (id|lotjuid|name)")
    p.add_argument("--stations-csv", help="stations metadata pipe-CSV")
    p.add_argument("--dry-validate", action="store_true", help="validate inputs only, no execution")
    p.add_argument("--max-minutes", type=int, default=30)
    p.add_argument("--xlsx", action="store_true", help="also write the summary workbook (.xlsx, S6)")
    p.add_argument("--pptx", action="store_true", help="also write the per-collection slide deck (.pptx, S7)")
    p.add_argument(
        "--pptx-template",
        default=None,
        help="branded .pptx whose master/layout/theme the deck clones "
        "(the reference's report_template.pptx role)",
    )
    p.add_argument("--png", action="store_true", help="also write per-condition timeline PNGs (S8)")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    results_dir = Path(args.results_dir)
    results_dir.mkdir(parents=True, exist_ok=True)
    log = reports.setup_logging(args.name, str(results_dir))

    inp = Path(args.input)
    if inp.is_dir():
        analysis = read_csv_workbook(str(inp), args.name)
    else:
        analysis = read_xlsx_workbook(str(inp), args.name)
    log.info("parsed %d collections", len(analysis.collections))

    if args.dry_validate:
        # Metadata: CSVs when given; otherwise the embedded 2019 snapshots
        # (reference behavior — utils.py:115-273 hard-codes them so
        # --dryvalidate needs no database/inputs at all).
        from tsatool_app_spark.snapshots import (
            snapshot_sensor_name_to_id,
            snapshot_station_ids,
        )

        station_ids: set[int] = set(snapshot_station_ids())
        sensor_map: dict[str, int] = snapshot_sensor_name_to_id()
        if args.stations_csv:
            station_ids = {r.id for r in read_metadata_csv(args.stations_csv)}
        if args.sensors_csv:
            sensor_map = sensor_name_to_id(read_metadata_csv(args.sensors_csv))
        tree = analysis.dry_validate(station_ids, sensor_map)
        out = results_dir / f"{args.name}_ERRORS.json"
        out.write_text(json.dumps(tree, indent=1, default=str))
        has_errors = any(
            coll.errors
            or any(
                c.errors or any(b.errors for b in c.blocks.values())
                for c in coll.conditions.values()
            )
            for coll in analysis.collections
        )
        print(json.dumps({"dry_validate": "failed" if has_errors else "ok", "errors_file": str(out)}))
        return 1 if has_errors else 0

    if not args.obs_parquet:
        print("error: --obs-parquet is required unless --dry-validate", file=sys.stderr)
        return 2

    from tsatool_app_spark.model import read_parquet
    from tsatool_app_spark.session import get_spark

    spark = get_spark(f"tsatool-{args.name}")
    obs = read_parquet(spark, args.obs_parquet)
    sensor_map = None
    if args.sensors_csv:
        sensor_map = sensor_name_to_id(read_metadata_csv(args.sensors_csv))

    for coll in analysis.collections:
        res = coll.run(obs, max_minutes=args.max_minutes, sensor_name_to_id=sensor_map)
        rows = reports.summary_rows(res)
        reports.write_summary_csv(rows, str(results_dir / f"{args.name}_{coll.name}.csv"))
        if args.xlsx:
            reports.write_summary_excel(
                rows, str(results_dir / f"{args.name}_{coll.name}.xlsx"),
                analysis_name=args.name,
            )
        if args.pptx:
            reports.write_pptx(
                rows,
                str(results_dir / f"{args.name}_{coll.name}.pptx"),
                template=args.pptx_template,
            )
        for row in rows:
            if row["ranges"] is not None:
                stem = f"{args.name}_{row['cond_id']}_timeline"
                reports.write_timeline_json(row, str(results_dir / f"{stem}.json"))
                if args.png:
                    reports.write_timeline_png(row, str(results_dir / f"{stem}.png"))
        log.info("collection %s: %d conditions", coll.name, len(coll.conditions))

    reports.write_error_json(analysis, str(results_dir / f"{args.name}_ERRORS.json"))
    print(json.dumps({"analysis": args.name, "collections": len(analysis.collections), "results_dir": str(results_dir)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
