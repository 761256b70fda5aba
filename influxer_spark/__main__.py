"""Console entry point — the reference's CLI surface (Influxer/Program.cs:17-23,
Influxer/Config/CommandLineProcessor.cs:25-146) re-expressed for the Spark
engine.  Same switches where they still make sense; the InfluxDB URL/database
flags become a parquet output directory (the engine's sink is a table, not a
server).

    python -m influxer_spark -input metrics.csv -format Generic \\
        -timeformat "yyyy-MM-dd m:ss" -table simple -output /tmp/out

    python -m influxer_spark -input perfmon.csv -format Perfmon -multi \\
        -output /tmp/out

    python -m influxer_spark -input data.csv -export -autolayout   # S9

Exit codes mirror the reference: 0 = Success, 2 = ProcessedWithErrors,
1 = Failed/InvalidArgument.
"""

from __future__ import annotations

import argparse
import sys
import time


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="influxer_spark", add_help=True, prefix_chars="-"
    )
    p.add_argument("-input", default=None, help="input file")
    p.add_argument("-format", default="Generic", choices=["Generic", "Perfmon"])
    p.add_argument("-table", default="points", help="measurement name")
    p.add_argument("-timeformat", default=None, help=".NET custom time format")
    # None defaults: "apply only when explicitly passed" so flags never
    # clobber settings loaded via -config (S9 export/reload round-trip)
    p.add_argument(
        "-timetype", default=None, choices=["String", "Epoch", "Binary"]
    )
    p.add_argument(
        "-precision", default=None,
        choices=["Hours", "Minutes", "Seconds", "Milliseconds",
                 "Microseconds", "Nanoseconds"],
    )
    p.add_argument("-splitter", default=None, help="column splitter regex")
    p.add_argument("-header", type=int, default=None, help="header row number")
    p.add_argument("-noheader", action="store_true")
    p.add_argument("-skip", type=int, default=None, help="data rows to skip")
    p.add_argument("-ignore", default="", help="comment marker")
    p.add_argument("-utcoffset", type=int, default=0)
    p.add_argument("-validate", type=int, default=None)
    p.add_argument("-timecolumn", type=int, default=None)
    p.add_argument("-columns", default="", help="comma list for -filter columns")
    p.add_argument("-filter", default="None", choices=["None", "Columns"])
    p.add_argument("-tags", default="", help="default tags k=v,k2=v2")
    p.add_argument("-config", default=None, help="layout config JSON file")
    p.add_argument("-export", action="store_true", help="emit config JSON (S9)")
    p.add_argument("-autolayout", action="store_true")
    p.add_argument("-ignoreerrors", action="store_true")
    p.add_argument("-multi", action="store_true", help="Perfmon MultiMeasurements")
    p.add_argument("-output", default=None, help="output parquet directory")
    p.add_argument(
        "-rollup", action="store_true",
        help="also materialize 1m/1h/1d tiers next to the points output — "
        "the full reference workflow (parse → push → server CQ rollup) in "
        "one command",
    )
    p.add_argument(
        "-lineprotocol", default=None, metavar="DIR",
        help="also write the points as InfluxDB line-protocol text files — "
        "the reference's actual wire output (GenericFile.cs:303), so the "
        "result can be replayed into a real InfluxDB with `influx write`",
    )
    p.add_argument(
        "-query", default=None, metavar="INFLUXQL",
        help="run an InfluxQL statement against -input (a parquet table "
        "registered as the -table measurement) instead of ingesting — "
        "SELECT/SHOW/DELETE/DROP via the string front-end, incl. GROUP BY "
        "time(), fill(), transforms, technical analysis, holt_winters",
    )
    p.add_argument(
        "-timecol", default="ts",
        help="time column of the -input table in -query mode (default ts)",
    )
    p.add_argument(
        "-catalog", default=None, metavar="DIR",
        help="-query mode: a pipeline TableCatalog root — registers the "
        "-table measurement as tier-served (GROUP BY time() answered from "
        "the materialized rollup_1m/1h/1d tiers with manifest pruning; "
        "works with or without -input as the raw fallback)",
    )
    p.add_argument(
        "-keys", default="url,metric",
        help="tier series key columns for -catalog (default url,metric)",
    )
    p.add_argument(
        "-histbounds", default=None, metavar="LO:HI",
        help="with -catalog: half-octave histogram bound range the tiers "
        "were built with (pipeline hist_bounds=log2_bounds(LO, HI)) — opts "
        "percentile()/median() into approximate tier serving",
    )
    p.add_argument(
        "-kmvitem", default=None, metavar="COL",
        help="with -catalog: the item column the catalog's kmv_1h/kmv_1d "
        "sketch tables were built over (operators/kmv.py:build_kmv_tiers) "
        "— opts approx_count_distinct(COL) into tier serving",
    )
    p.add_argument(
        "-refresh", action="store_true",
        help="with -input (pages parquet dir) + -catalog: invalidation-"
        "driven tier refresh after the source changed under a committed "
        "catalog (late re-crawl appends / takedown deletes) — detects stale "
        "days by count against the per-partition rows_in counters, region-"
        "recomputes only those, drops orphaned days; previous tier versions "
        "stay time-travelable (pipeline.refresh_pipeline)",
    )
    p.add_argument(
        "-maintain", action="store_true",
        help="with -catalog: ONE dependency-ordered maintenance sweep — "
        "refresh stale days (when -input names the pages source), apply "
        "the retention DAG (-retention SPEC or the default), binpack-"
        "compact fragmented partitions, then vacuum orphans and expire "
        "old snapshots (-keeplast). The sweep a 100 TB deployment crons.",
    )
    p.add_argument(
        "-keeplast", type=int, default=3, metavar="N",
        help="with -maintain: snapshots to retain per table at expiry "
        "(tagged snapshots and branch ancestry always survive)",
    )
    p.add_argument(
        "-retention", default=None, metavar="SPEC",
        help="with -catalog: apply the dependency-ordered retention DAG "
        "(operators/retention.py) and exit — SPEC is "
        "raw=7,1m=30,1h=365,1d=3650 (ttl days per tier; 'default' uses "
        "exactly that). A partition past TTL is dropped only after the "
        "coarser tier committed it; bytes stay until expire_snapshots",
    )
    p.add_argument(
        "-asof", default=None, metavar="YYYY-MM-DD",
        help="with -retention: evaluate TTLs as of this date instead of "
        "today (deterministic dry runs / backfill replays)",
    )
    p.add_argument(
        "-deleterows", default=None, metavar="TABLE",
        help="with -catalog and -where: row-level COPY-ON-WRITE delete "
        "(Iceberg DELETE FROM) — one atomic snapshot, only affected "
        "partitions rewritten, rows_deleted in lineage (takedown / "
        "right-to-be-forgotten)",
    )
    p.add_argument(
        "-updaterows", default=None, metavar="TABLE",
        help="with -catalog, -where, and -set: row-level COPY-ON-WRITE "
        "update (Iceberg UPDATE … SET) — matching rows get the SET "
        "expressions evaluated on the old row; others pass through",
    )
    p.add_argument(
        "-where", default=None, metavar="SQL_PRED",
        help="SQL predicate for -deleterows/-updaterows (sees the data "
        "columns plus partition value as string column p)",
    )
    p.add_argument(
        "-set", dest="set_exprs", default=None, metavar="COL=EXPR[;COL=EXPR]",
        help="for -updaterows: semicolon-separated assignments, each EXPR "
        "a SQL expression over the OLD row",
    )
    p.add_argument(
        "-compact", default=None, metavar="TABLES",
        help="with -catalog: binpack-rewrite small files in each named "
        "table's partitions (comma list, or 'all' for the five pipeline "
        "tables), then vacuum unreferenced snapshots — Iceberg "
        "rewrite_data_files + expire_snapshots as one maintenance command",
    )
    p.add_argument(
        "-compactbloom", default=None, metavar="COLS",
        help="with -compact: comma list of columns to also write parquet "
        "bloom filters for (row-group pruning on high-cardinality "
        "equality probes like WHERE url = ...)",
    )
    p.add_argument(
        "-compactsort", default=None, metavar="COLS",
        help="with -compact: comma list of sort columns — use Iceberg's "
        "SORT rewrite strategy (cluster rows for row-group pruning) "
        "instead of binpack",
    )
    p.add_argument(
        "-compactzorder", default=None, metavar="COLS",
        help="with -compact: comma list of columns — use Iceberg's ZORDER "
        "rewrite strategy (Morton-interleaved rank buckets: min/max "
        "pruning on every listed column at once) instead of binpack/sort",
    )
    p.add_argument(
        "-diff", default=None, metavar="TABLE:FROM[:TO]",
        help="with -catalog: metadata-only changelog between two retained "
        "snapshots of TABLE (added/removed/changed partitions + rows "
        "delta); TO defaults to the current snapshot",
    )
    p.add_argument(
        "-queryasof", default=None, metavar="REF",
        help="with -query -catalog: answer tier-served statements from "
        "this snapshot id, tag, or branch (Iceberg time travel through "
        "the dashboard); the real-time raw tail is disabled under as_of",
    )
    p.add_argument(
        "-ref", default=None, metavar="TABLE:OP[:NAME[:SNAPSHOT]]",
        help="with -catalog: snapshot ref maintenance (metadata-only, no "
        "Spark) — OP one of tag / droptag / branch / dropbranch / "
        "ff (fast-forward main to a branch head) / list.  Tagged "
        "snapshots and branch heads survive expire_snapshots; reads "
        "address them as as_of='NAME'",
    )
    p.add_argument("-cores", type=int, default=None)
    return p


def _write_lineprotocol(points, measurement: str, path: str, ts_col: str = "ts") -> None:
    """Wide points → line protocol: string-typed columns are tags, numeric/
    boolean columns are fields (the engine's tag model, = InfluxDB's)."""
    from influxer_spark.sinks import write_line_protocol

    tags = [n for n, t in points.dtypes if t == "string" and n != ts_col]
    fields = [
        n for n, t in points.dtypes
        if n != ts_col and n not in tags
        and (t in ("double", "float", "boolean") or t.endswith("int") or t == "bigint")
    ]
    write_line_protocol(
        points, path, measurement=measurement, tags=tags, fields=fields, ts_col=ts_col
    )


def _generic_config(args):
    from influxer_spark.ingest.config import (
        DEFAULT_COLUMN_SPLITTER,
        DEFAULT_TIME_FORMAT,
        GenericFileConfig,
        TimeFormatType,
        TimePrecision,
        load_config,
    )

    if args.config:
        cfg = load_config(open(args.config, encoding="utf-8").read())
    else:
        cfg = GenericFileConfig()
    cfg.measurement = args.table
    cfg.column_splitter = args.splitter or cfg.column_splitter or DEFAULT_COLUMN_SPLITTER
    cfg.time_format = args.timeformat or cfg.time_format or DEFAULT_TIME_FORMAT
    if args.timetype is not None:
        cfg.time_format_type = TimeFormatType(args.timetype)
    if args.precision is not None:
        cfg.precision = TimePrecision(args.precision)
    if args.header is not None:
        cfg.header_row = args.header
    cfg.header_missing = args.noheader or cfg.header_missing
    if args.skip is not None:
        cfg.skip_rows = args.skip
    cfg.comment_marker = args.ignore or cfg.comment_marker
    cfg.utc_offset = args.utcoffset or cfg.utc_offset
    if args.validate is not None:
        cfg.validate_rows = args.validate
    if args.timecolumn is not None:
        cfg.time_column = args.timecolumn
    cfg.ignore_errors = args.ignoreerrors or cfg.ignore_errors
    if args.tags:
        cfg.default_tags = [t.strip() for t in args.tags.split(",") if t.strip()]
    return cfg


def _retention_policies(spec: str | None):
    """-retention SPEC ('default' or 'raw=7,1m=30,…' day TTLs) → the
    dependency-ordered policy list apply_retention consumes."""
    from influxer_spark.operators.retention import DEFAULT_DAG, RetentionPolicy

    if spec is None or spec.strip().lower() == "default":
        return DEFAULT_DAG
    ttls = dict(kv.split("=") for kv in spec.split(",") if kv)
    name = {"raw": "raw_points", "1m": "rollup_1m",
            "1h": "rollup_1h", "1d": "rollup_1d"}
    deps = {"raw_points": "rollup_1m", "rollup_1m": "rollup_1h",
            "rollup_1h": "rollup_1d", "rollup_1d": None}
    return [
        RetentionPolicy(name[k], int(v), depends_on=deps[name[k]])
        for k, v in ttls.items()
    ]


def main(argv: list[str] | None = None) -> int:
    parser = _build_parser()
    args = parser.parse_args(argv)
    if not getattr(args, "input") and not (
        (args.query or args.retention or args.compact or args.diff
         or args.deleterows or args.updaterows or args.ref or args.maintain)
        and args.catalog
    ):
        # -input stays mandatory everywhere the reference required it; only
        # catalog maintenance/query modes run without raw data
        parser.error(
            "-input is required (optional only with "
            "-query/-retention/-compact/-diff/-deleterows/-updaterows/-ref/"
            "-maintain -catalog)"
        )

    if args.ref:
        # metadata-only: ref file + manifest pointers, no Spark session
        if not args.catalog:
            parser.error("-ref requires -catalog")
        from influxer_spark.catalog import TableCatalog

        parts = args.ref.split(":")
        if len(parts) < 2:
            parser.error("-ref wants TABLE:OP[:NAME[:SNAPSHOT]]")
        table, op = parts[0], parts[1].lower()
        name = parts[2] if len(parts) > 2 else None
        snap = int(parts[3]) if len(parts) > 3 else None
        cat = TableCatalog(args.catalog)
        if op == "list":
            for tag, s in sorted(cat.tags(table).items()):
                print(f"tag    {tag} -> {s}")
            for br, s in sorted(cat.branches(table).items()):
                print(f"branch {br} -> {s}")
            print(f"main   -> {cat.current_snapshot(table)}")
            return 0
        if name is None:
            parser.error(f"-ref {op} wants TABLE:{op}:NAME")
        if op == "tag":
            print(f"tagged {name} -> {cat.create_tag(table, name, snap)}")
        elif op == "droptag":
            cat.drop_tag(table, name)
            print(f"dropped tag {name}")
        elif op == "branch":
            print(f"branched {name} @ {cat.create_branch(table, name, snap)}")
        elif op == "dropbranch":
            cat.drop_branch(table, name)
            print(f"dropped branch {name}")
        elif op == "ff":
            print(f"fast-forwarded main -> {cat.fast_forward(table, name)}")
        else:
            parser.error(f"unknown -ref op {op!r}")
        return 0

    if args.retention and not args.maintain:
        # metadata-only: partition drops via the manifest, no Spark session
        if not args.catalog:
            parser.error("-retention requires -catalog")
        import datetime as _dt

        from influxer_spark.catalog import TableCatalog
        from influxer_spark.operators.retention import apply_retention

        policies = _retention_policies(args.retention)
        now = _dt.date.fromisoformat(args.asof) if args.asof else None
        report = apply_retention(TableCatalog(args.catalog), policies, now=now)
        for table, parts in sorted(report.items()):
            print(f"{table}: {len(parts)} dropped ({', '.join(parts)})")
        if not report:
            print("nothing past TTL (or dependents not yet committed)")
        return 0

    if args.export:  # S9: layout discovery, no processing run
        from influxer_spark.ingest.config import export_config
        from influxer_spark.ingest.generic import resolve_layout

        cfg = _generic_config(args)
        layout = resolve_layout(cfg, getattr(args, "input"))
        cfg.column_layout = [c for _, c in layout.columns]
        print(export_config(cfg))
        return 0

    from influxer_spark.session import get_spark

    spark = get_spark("influxer_spark_cli", cores=args.cores)
    t0 = time.time()

    if args.maintain:
        # ONE dependency-ordered sweep (what a deployment crons): refresh
        # stale days first (so retention/compaction see final data), then
        # TTL drops, then binpack fragmented partitions, then reclaim —
        # expiry LAST so every earlier step's pre-images stay
        # time-travelable until this same sweep's cutoff.
        if not args.catalog:
            parser.error("-maintain requires -catalog")
        import datetime as _dt
        import json as _json

        from influxer_spark.catalog import TableCatalog
        from influxer_spark.operators.retention import apply_retention
        from influxer_spark.tiers import family_tables

        cat = TableCatalog(args.catalog)
        report: dict = {}
        if getattr(args, "input"):
            from influxer_spark.pipeline import refresh_pipeline

            res = refresh_pipeline(spark, getattr(args, "input"), args.catalog)
            report["refreshed_days"] = sorted(res.days_processed)
            report["fresh_days"] = len(res.days_skipped)
        now = _dt.date.fromisoformat(args.asof) if args.asof else None
        dropped = apply_retention(
            cat, _retention_policies(args.retention), now=now
        )
        report["retention_dropped"] = {
            t: sorted(p) for t, p in sorted(dropped.items())
        }
        tables = [t for t in family_tables() if cat.exists(t)]
        compacted: dict[str, int] = {}
        expired: dict[str, dict[str, int]] = {}
        freed = 0
        for t in tables:
            c = cat.compact(spark, t)
            if c["rewritten"]:
                compacted[t] = c["rewritten"]
            freed += cat.vacuum(t)
            expired[t] = cat.expire_snapshots(t, keep_last=args.keeplast)
        report["compacted_partitions"] = compacted
        report["vacuumed_dirs"] = freed
        report["expired"] = {
            t: e for t, e in expired.items()
            if e["manifests"] or e["data_dirs"]
        }
        report["elapsed_s"] = round(time.time() - t0, 1)
        print(_json.dumps(report))
        return 0

    if args.diff:
        if not args.catalog:
            parser.error("-diff requires -catalog")
        from influxer_spark.catalog import TableCatalog

        parts = args.diff.split(":")
        if len(parts) not in (2, 3):
            parser.error("-diff wants TABLE:FROM[:TO]")
        table, s_from = parts[0], int(parts[1])
        s_to = int(parts[2]) if len(parts) == 3 else None
        d = TableCatalog(args.catalog).snapshot_diff(table, s_from, s_to)
        print(
            f"{d['table']} snapshot {d['from_snapshot']} -> "
            f"{d['to_snapshot']}"
        )
        for kind in ("added", "removed", "changed"):
            for pv in d[kind]:
                print(f"  {kind}: {pv}")
        delta = d["rows_delta"]
        print(
            "  rows delta: "
            + ("unknown (no counters)" if delta is None else f"{delta:+d}")
        )
        return 0

    if args.compact:
        if not args.catalog:
            parser.error("-compact requires -catalog")
        from influxer_spark.catalog import TableCatalog
        from influxer_spark.tiers import FAMILIES

        cat = TableCatalog(args.catalog)
        tables = (
            FAMILIES["pipeline"].tables
            if args.compact.strip().lower() == "all"
            else [t for t in args.compact.split(",") if t]
        )
        sort_cols = (
            [c for c in args.compactsort.split(",") if c]
            if args.compactsort
            else None
        )
        zorder_cols = (
            [c for c in args.compactzorder.split(",") if c]
            if args.compactzorder
            else None
        )
        for t in tables:
            if not cat.exists(t):
                print(f"{t}: absent, skipped")
                continue
            bloom_cols = (
                [c for c in args.compactbloom.split(",") if c]
                if args.compactbloom
                else None
            )
            res = cat.compact(
                spark, t, sort_cols=sort_cols, bloom_cols=bloom_cols,
                zorder_cols=zorder_cols,
            )
            freed = cat.vacuum(t)
            print(
                f"{t}: {res['rewritten']}/{res['partitions']} partitions "
                f"rewritten, {freed} stale objects vacuumed"
            )
        print(f"done in {time.time() - t0:.1f}s")
        return 0

    if args.deleterows or args.updaterows:
        if not args.catalog or not args.where:
            parser.error("-deleterows/-updaterows require -catalog and -where")
        from influxer_spark.catalog import TableCatalog

        cat = TableCatalog(args.catalog)
        if args.deleterows:
            res = cat.delete_where(
                spark, args.deleterows, args.where, reason="cli -deleterows"
            )
            print(
                f"{args.deleterows}: {res['rows_deleted']} rows deleted "
                f"({res['partitions_rewritten']} partitions rewritten, "
                f"{res['partitions_dropped']} emptied+dropped)"
            )
        else:
            if not args.set_exprs:
                parser.error("-updaterows requires -set COL=EXPR[;COL=EXPR]")
            sets = dict(
                kv.split("=", 1) for kv in args.set_exprs.split(";") if kv
            )
            res = cat.update_where(
                spark, args.updaterows, args.where, sets,
                reason="cli -updaterows",
            )
            print(
                f"{args.updaterows}: {res['rows_updated']} rows updated "
                f"({res['partitions_rewritten']} partitions rewritten)"
            )
        print(f"done in {time.time() - t0:.1f}s")
        return 0

    if args.refresh:
        if not args.catalog:
            parser.error("-refresh requires -catalog (and -input pages dir)")
        from influxer_spark.pipeline import refresh_pipeline

        res = refresh_pipeline(spark, getattr(args, "input"), args.catalog)
        for d in res.days_processed:
            print(f"refreshed {d}: {res.counters.get(d, {})}")
        for d, c in res.counters.items():
            if c.get("dropped"):
                print(f"dropped {d}: source rows all deleted")
        print(
            f"{len(res.days_processed)} day(s) refreshed, "
            f"{len(res.days_skipped)} fresh, in {res.elapsed_s:.1f}s"
        )
        return 0

    if args.query:
        from influxer_spark.influxql_frontend import InfluxQLEngine

        tables = {}
        if getattr(args, "input"):
            tables[args.table] = spark.read.parquet(getattr(args, "input"))
        eng = InfluxQLEngine(tables, ts_col=args.timecol)
        if args.catalog:
            from influxer_spark.catalog import TableCatalog
            from influxer_spark.operators.rollup import log2_bounds

            cat = TableCatalog(args.catalog)
            if args.histbounds:
                lo, hi = args.histbounds.split(":")
                hb = log2_bounds(float(lo), float(hi))
            else:
                # default to the bound list the pipeline pinned on the tiers
                hb = cat.table_property("rollup_1h", "hist_bounds")
            aso = args.queryasof
            if aso is not None and aso.isdigit():
                aso = int(aso)
            eng.register_tiered(
                args.table, cat,
                key_cols=tuple(k for k in args.keys.split(",") if k),
                hist_bounds=hb,
                kmv_item_col=args.kmvitem,
                # candlestick serving is bit-identical to the raw path, so
                # it auto-enables when the tables exist; sumsq/hdr change
                # float shape/exactness and stay deliberate opt-ins
                ohlc=cat.exists("ohlc_1m"),
                as_of=aso,
            )
            # CQ registry durability: CREATE/DROP CONTINUOUS QUERY from the
            # CLI persists in the catalog, like InfluxDB's server meta store
            eng.attach_cq_catalog(cat)
        q = args.query.strip().lower()
        if q == "cq run" or q.startswith("cq run "):
            # `cq run` → full backfill; `cq run <iso-ts>` → incremental
            # RESAMPLE window ending at that instant (EVERY-gated)
            now = args.query.strip()[len("cq run"):].strip() or None
            ran = eng.run_continuous_queries(now=now)
            for name, df_out in sorted(ran.items()):
                print(f"cq {name}: {df_out.count()} rows")
            if not ran:
                print(
                    "no continuous queries due (EVERY-gated)"
                    if eng.cqs else "no continuous queries registered"
                )
            print(f"done in {time.time() - t0:.1f}s")
            return 0
        out = eng.execute(args.query)
        cols = out.columns
        if args.output:
            # execute ONCE: preview and count read the written parquet
            out.write.mode("overwrite").parquet(args.output)
            out = spark.read.parquet(args.output)
        else:
            out = out.cache()
        rows = out.limit(21).collect()
        print("\t".join(cols))
        for r in rows[:20]:
            print("\t".join(str(r[c]) for c in cols))
        if len(rows) > 20:
            print("…")
        n = out.count()
        print(f"{n} rows in {time.time() - t0:.1f}s")
        return 0

    if args.format == "Perfmon":
        from influxer_spark.ingest.config import PerfmonFileConfig
        from influxer_spark.ingest.perfmon import ingest_perfmon_file

        pcfg = PerfmonFileConfig(
            measurement=args.table,
            multi_measurements=args.multi,
            default_tags=[t for t in args.tags.split(",") if t],
        )
        if args.timeformat:
            pcfg.time_format = args.timeformat
        res = ingest_perfmon_file(spark, getattr(args, "input"), pcfg)
        points = res.points_narrow()
        failed = res.bad_lines.count()
        found = points.count()
        if args.output:
            points.write.mode("overwrite").parquet(args.output)
        if args.lineprotocol:
            _write_lineprotocol(points, args.table, args.lineprotocol)
        print(
            f"Processed {found} points ({failed} failed lines) in "
            f"{time.time() - t0:.1f}s; UTC offset {res.utc_offset_min} min"
        )
        return 0 if failed == 0 else 2

    from influxer_spark.ingest.filters import (
        enforce_failure_budget,
        filter_columns,
    )
    from influxer_spark.ingest.generic import ingest_generic_file, resolve_layout

    cfg = _generic_config(args)
    layout = None
    if args.filter == "Columns" and args.columns:
        layout = filter_columns(
            resolve_layout(cfg, getattr(args, "input")),
            [c.strip() for c in args.columns.split(",")],
            cfg.time_column,
        )
    res = ingest_generic_file(spark, getattr(args, "input"), cfg, layout=layout)
    status = enforce_failure_budget(res, cfg)
    if args.lineprotocol:
        _write_lineprotocol(res.points, cfg.measurement, args.lineprotocol)
    if args.output:
        res.points.write.mode("overwrite").parquet(args.output)
        res.errors.write.mode("overwrite").parquet(args.output + "_errors")
        if args.rollup:
            from influxer_spark.ingest.generic import to_narrow_points
            from influxer_spark.operators.rollup import rollup_cascade_all

            narrow = to_narrow_points(res)
            keys = [
                c for c in narrow.columns if c not in ("ts", "value")
            ]  # tags + metric
            for tier, df in rollup_cascade_all(
                narrow, "ts", keys, "value"
            ).items():
                df.write.mode("overwrite").parquet(
                    f"{args.output}_rollup_{tier}"
                )
    print(
        f"Processed {status['points_found']} points, "
        f"{status['points_failed']} failed in {time.time() - t0:.1f}s"
    )
    for row in res.failure_report().collect():
        print(f"  {row['error']}: {row['n']} (lines {row['sample_lines']})")
    return 0 if status["points_failed"] == 0 else 2


if __name__ == "__main__":
    sys.exit(main())
