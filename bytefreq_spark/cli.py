"""spark-submit entry point (north rule: ``spark-submit --py-files``).

Usage (spark-submit runs a file, so it launches this module through the
``scripts/submit_job.py`` shim):
    spark-submit --py-files bytefreq_spark.zip scripts/submit_job.py \\
        quality-filter --input /data/transcripts --output /data/labels \\
        [--checkpoint-dir /data/ckpt]
    ... profile --input /data/table.parquet --columns a,b,c --grain LU \\
        --output /data/report
    python -m bytefreq_spark.cli <command> ...   (the same, without a cluster)

Build the zip with:  python scripts/make_pyfiles.py
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="bytefreq-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    qf = sub.add_parser("quality-filter", help="transcript quality-filter pipeline")
    qf.add_argument("--input", required=True, help="parquet dir / table of transcripts")
    qf.add_argument("--output", required=True)
    qf.add_argument("--drop-text", action="store_true",
                    help="drop raw text/tool from the output (the at-scale "
                         "config: scrubbed text is the deliverable, and the "
                         "wide conversation shuffle halves)")
    qf.add_argument("--checkpoint-dir", default=None)
    qf.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])

    pr = sub.add_parser("profile", help="bytefreq DQ pattern profile")
    pr.add_argument("--input", required=True)
    pr.add_argument("--format", dest="in_format", default="parquet",
                    choices=["parquet", "json", "delimited", "csv", "excel"],
                    help="json = NDJSON dot-path flatten w/ M6 quoting; "
                         "delimited = naive-split w/ RaggedErr; csv = RFC 4180; "
                         "excel = xlsx scan (reference --format excel)")
    pr.add_argument("--sheet", type=int, default=0,
                    help="excel: 0-based sheet index (reference --sheet)")
    pr.add_argument("--sheet-name", default=None,
                    help="excel: sheet by name, overrides --sheet "
                         "(reference --sheet-name)")
    pr.add_argument("--delimiter", default="|")
    pr.add_argument("--header-row", type=int, default=1)
    pr.add_argument("--columns", default=None, help="comma-separated (default: all)")
    pr.add_argument("--grain", default="LU",
                    choices=["H", "L", "HU", "LU", "AWK_H", "AWK_L"])
    pr.add_argument("--top-k", type=int, default=None)
    pr.add_argument("--output", default=None, help="parquet out (default: stdout table)")
    pr.add_argument("--render", action="store_true",
                    help="reference stdout report layout instead of show()")

    cf = sub.add_parser("charfreq", help="CP char-frequency report (reference -r CP)")
    cf.add_argument("--input", required=True)
    cf.add_argument("--column", required=True)
    cf.add_argument("--output", default=None, help="parquet out (default: stdout report)")
    cf.add_argument("--bytes", action="store_true", dest="byte_level",
                    help="UTF-8 byte-level report in charfreq.awk's layout")

    en = sub.add_parser("enhance", help="enhanced per-field output (reference -e/-E)")
    en.add_argument("--input", required=True, help="parquet input")
    en.add_argument("--columns", default=None, help="comma-separated (default: all)")
    en.add_argument("--flat", action="store_true",
                    help="-E: flatten to dotted keys instead of structs")
    en.add_argument("--include-latlon", action="store_true",
                    help="enable the reference-disabled F9 lat/lon rules")
    en.add_argument("--output", default=None,
                    help="parquet out (default: NDJSON to stdout, like the reference)")
    en.add_argument("--limit", type=int, default=None,
                    help="cap rows for stdout NDJSON")

    ig = sub.add_parser(
        "ingest",
        help="incremental ingest: label only conversations not yet in the "
             "labels snapshot, commit a new snapshot version (S9; batch or "
             "continuous streaming)",
    )
    ig.add_argument("--input", required=True,
                    help="parquet dir of transcripts (batch) or a watched "
                         "directory of arriving files (--stream)")
    ig.add_argument("--snapshot-dir", required=True,
                    help="snapshot root (labels + freq + conv_index tables)")
    ig.add_argument("--stream", action="store_true",
                    help="run as a Structured Streaming job (foreachBatch "
                         "around the same crash-safe commit); requires "
                         "--checkpoint-dir.  Default trigger drains the "
                         "currently-available files and exits (availableNow); "
                         "pass --trigger-interval for a long-running job")
    ig.add_argument("--checkpoint-dir", default=None)
    ig.add_argument("--max-files-per-trigger", type=int, default=None)
    ig.add_argument("--trigger-interval", type=int, default=None, metavar="SECONDS",
                    help="continuous mode: poll the watched directory every "
                         "SECONDS with a processing-time trigger and keep "
                         "running until stopped (default: availableNow — "
                         "drain what is there, commit, exit)")

    dd = sub.add_parser("dedup", help="document deduplication family")
    dd.add_argument("--input", required=True, help="parquet docs table")
    dd.add_argument("--method", default="exact",
                    choices=["exact", "minhash", "simhash", "paragraph"])
    dd.add_argument("--text-col", default="text")
    dd.add_argument("--id-col", default="doc_id")
    dd.add_argument("--threshold", type=float, default=0.6,
                    help="minhash est-Jaccard keep threshold")
    dd.add_argument("--max-hamming", type=int, default=3,
                    help="simhash near-dup hamming radius")
    dd.add_argument("--output", required=True,
                    help="exact: kept rows; minhash/simhash: near-dup pairs")

    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName(f"bytefreq-{args.cmd}").getOrCreate()

    if args.cmd == "quality-filter":
        from .pipeline import quality_filter, run_with_checkpoints

        df = spark.read.parquet(args.input)
        if args.checkpoint_dir:
            out = run_with_checkpoints(
                spark, df, args.checkpoint_dir, drop_text=args.drop_text)
        else:
            out = quality_filter(df, drop_text=args.drop_text)
        writer = out.write.mode("overwrite")
        if args.format == "iceberg":
            writer.format("iceberg").save(args.output)
        else:
            writer.parquet(args.output)
        n = spark.read.parquet(args.output).count() if args.format == "parquet" else None
        print(json.dumps({"output": args.output, "rows": n}))
    elif args.cmd == "profile":
        from .profile import dq_report

        if args.in_format == "json":
            from .sources.json_flatten import profile_json

            df = spark.read.json(args.input)
            rep = profile_json(df, grain=args.grain).orderBy("column", "pattern")
            # profile_json already yields the frequency table (dot-path cols)
            if args.output:
                rep.write.mode("overwrite").parquet(args.output)
                print(json.dumps({"output": args.output}))
            else:
                rep.show(200, truncate=40)
            spark.stop()
            return 0
        if args.in_format == "delimited":
            from .sources.tabular import read_delimited

            df = read_delimited(spark, args.input, args.delimiter, args.header_row)
        elif args.in_format == "excel":
            from .sources.tabular import read_excel

            df = read_excel(
                spark, args.input,
                args.sheet_name if args.sheet_name is not None else args.sheet,
                args.header_row,
            )
        elif args.in_format == "csv":
            from .sources.tabular import read_csv_rfc4180

            df = read_csv_rfc4180(spark, args.input, args.delimiter)
        else:
            df = spark.read.parquet(args.input)
        cols = args.columns.split(",") if args.columns else None
        rep = dq_report(df, cols, args.grain, args.top_k)
        if args.output:
            rep.write.mode("overwrite").parquet(args.output)
            print(json.dumps({"output": args.output}))
        elif args.render:
            import datetime

            from .profile import render_dq_report

            ts = datetime.datetime.now().strftime("%Y%m%d %H:%M:%S")
            print(render_dq_report(rep, examined_rows=df.count(), timestamp=ts))
        else:
            rep.show(200, truncate=40)
    elif args.cmd == "enhance":
        from .rules import enhanced, enhanced_flat

        df = spark.read.parquet(args.input)
        cols = args.columns.split(",") if args.columns else None
        out = (enhanced_flat(df, cols) if args.flat
               else enhanced(df, cols, include_latlon=args.include_latlon))
        if args.output:
            out.write.mode("overwrite").parquet(args.output)
            print(json.dumps({"output": args.output}))
        else:
            rows = (out.limit(args.limit) if args.limit else out).toJSON().collect()
            for r in rows:
                print(r)
    elif args.cmd == "charfreq":
        from .profile import (
            byte_histogram_named, char_histogram_named,
            render_byte_report, render_cp_report,
        )

        df = spark.read.parquet(args.input)
        if args.byte_level:
            named = byte_histogram_named(df, args.column)
            render = lambda: render_byte_report(df, args.column)  # noqa: E731
        else:
            named = char_histogram_named(df, args.column)
            render = lambda: render_cp_report(named)  # noqa: E731
        if args.output:
            named.write.mode("overwrite").parquet(args.output)
            print(json.dumps({"output": args.output}))
        else:
            print(render())
    elif args.cmd == "ingest":
        if args.stream:
            if not args.checkpoint_dir:
                p.error("--stream requires --checkpoint-dir")
            from .streaming.profile_stream import (
                incremental_ingest_stream, read_transcript_stream,
            )

            stream = read_transcript_stream(spark, args.input)
            if args.max_files_per_trigger:
                stream = (
                    spark.readStream.schema(stream.schema)
                    .option("maxFilesPerTrigger", args.max_files_per_trigger)
                    .parquet(args.input)
                )
            writer = incremental_ingest_stream(
                stream, args.snapshot_dir, args.checkpoint_dir)
            if args.trigger_interval:
                # long-running: poll for new files on a processing-time
                # trigger until the query is stopped externally
                writer = writer.trigger(
                    processingTime=f"{args.trigger_interval} seconds")
            else:
                # drain currently-available input, commit, exit
                writer = writer.trigger(availableNow=True)
            q = writer.start()
            q.awaitTermination()
            from .pipeline import read_snapshot

            n = read_snapshot(spark, args.snapshot_dir, "labels").count()
            print(json.dumps({"snapshot_dir": args.snapshot_dir,
                              "labels_rows": n, "mode": "stream"}))
        else:
            from .pipeline import run_incremental

            df = spark.read.parquet(args.input)
            labels, n_new = run_incremental(spark, df, args.snapshot_dir)
            print(json.dumps({"snapshot_dir": args.snapshot_dir,
                              "labels_rows": labels.count(),
                              "new_turns": n_new, "mode": "batch"}))
    elif args.cmd == "dedup":
        from .dedup import (
            dedup_exact, minhash_near_dups, paragraph_dedup,
            simhash_near_dup_pairs,
        )

        df = spark.read.parquet(args.input)
        if args.method == "exact":
            out = dedup_exact(df, args.text_col, args.id_col)
        elif args.method == "paragraph":
            out = paragraph_dedup(df, args.text_col, args.id_col)
        elif args.method == "minhash":
            out = minhash_near_dups(
                df, args.text_col, args.id_col, threshold=args.threshold
            )
        else:
            out = simhash_near_dup_pairs(
                df, args.text_col, args.id_col, max_hamming=args.max_hamming
            )
        out.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(json.dumps({"method": args.method, "output": args.output,
                          "rows": n}))

    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
