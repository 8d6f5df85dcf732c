"""CLI parity with the reference's entry points (SURVEY.md §2 F-ops).

  layout        F1 `eynollah layout`   — full extraction with per-partition
                checkpointing + resume (manifest.run_extraction)
  snapshots     the snapshot log of a `layout` output, one JSON object
                (manifest metadata only: no Spark session)
  extract-images F6 `eynollah-extract-images` — B17 image-only projection
  machine-ro    F5 `eynollah machine-based-reading-order` — B14 pairwise path
  gen-corpus    fixture/bench corpus materialization

Launch: spark-submit --py-files .cache/eynollah_spark.zip -m ... or
`python -m eynollah_spark.cli <cmd>`.
"""

from __future__ import annotations

import argparse
import json
import sys


def layout_rows(spark, path: str, coords: str = "original"):
    """The rows `page-xml` and `plot` write: extract_flat_input over the
    flat span table at ``path``, geometry in the ``coords`` frame."""
    from eynollah_spark.pagexml import rotate_geometry
    from eynollah_spark.pipeline import extract_flat_input

    rows = extract_flat_input(spark.read.parquet(path))
    return rotate_geometry(rows) if coords == "deskewed" else rows


def main(argv=None):
    ap = argparse.ArgumentParser(prog="eynollah_spark")
    ap.add_argument("--cpus", type=int, default=8)
    sub = ap.add_subparsers(dest="cmd", required=True)

    def _layout_flags(p):
        """Reference layout-CLI flag parity (cli_layout.py:91-159), wired
        to the engine knobs that already implement each semantic."""
        p.add_argument("--num-col-lower", type=int, default=0, metavar="N",
                       help="lower bound on detected column count "
                            "(0 = autodetect; cli_layout.py -ncl)")
        p.add_argument("--num-col-upper", type=int, default=0, metavar="N",
                       help="upper bound on detected column count "
                            "(0 = autodetect; cli_layout.py -ncu)")
        p.add_argument("--right2left", action="store_true",
                       help="force right-to-left reading order for all "
                            "documents (cli_layout.py -r2l; per-doc "
                            "meta.rtl is the default source)")
        p.add_argument("--ignore-page-extraction", action="store_true",
                       help="skip the printspace/page-frame filter "
                            "(cli_layout.py -ipe)")
        p.add_argument("--printspace-margin", type=float, default=0.0,
                       metavar="FRAC",
                       help="apply the B9 printspace filter with this "
                            "margin fraction (e.g. 0.02); 0 = off "
                            "(the model-free page-frame stand-in)")

    p = sub.add_parser("layout", help="extract reading-ordered spans (resumable)")
    p.add_argument("--input", required=True, help="nested documents parquet")
    p.add_argument("--output", required=True)
    p.add_argument("--n-parts", type=int, default=8)
    _layout_flags(p)

    p = sub.add_parser("snapshots", help="print a layout output's snapshot log")
    p.add_argument("--output", required=True, help="a `layout` --output dir")

    p = sub.add_parser("full-layout", help="F1 --full-layout: extract + refine + adhere")
    p.add_argument("--input", required=True, help="flat span parquet")
    p.add_argument("--output", required=True)
    p.add_argument("--headers-off", action="store_true",
                   help="ignore headers role in reading order — skip "
                        "heading reclassification (cli_layout.py -ho)")
    _layout_flags(p)

    p = sub.add_parser("extract-images", help="B17: image spans only")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)

    p = sub.add_parser("machine-ro", help="B14: pairwise-model reading order")
    p.add_argument("--input", required=True, help="flat span parquet")
    p.add_argument("--output", required=True)

    p = sub.add_parser("gen-corpus", help="materialize the synthetic corpus")
    p.add_argument("--n-docs", type=int, required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--nested", action="store_true")

    p = sub.add_parser("binarize", help="F2: B8 binarization over a media table")
    p.add_argument("--input", required=True, help="media parquet (MEDIA_SCHEMA)")
    p.add_argument("--output", required=True)

    p = sub.add_parser("enhance", help="F3: B7 enhancement over a media table")
    p.add_argument("--input", required=True, help="media parquet (MEDIA_SCHEMA)")
    p.add_argument("--output", required=True)

    p = sub.add_parser("page-xml", help="A5: extract + write PAGE-XML files")
    p.add_argument("--input", required=True, help="flat span parquet")
    p.add_argument("--output", required=True, help="directory for <doc_id>.xml")
    p.add_argument("--coords", choices=("original", "deskewed"),
                   default="original",
                   help="coordinate frame for serialized geometry: "
                        "'original' = input-image coordinates (the "
                        "reference's contract, C9); 'deskewed' = rotated "
                        "by the page's estimated skew angle")

    p = sub.add_parser("plot", help="layout diagnostics: one SVG per page "
                       "(the reference's --enable-plotting/save_plot_of_layout "
                       "surface, raster-free)")
    p.add_argument("--input", required=True, help="flat span parquet")
    p.add_argument("--output", required=True, help="directory for <doc_id>.svg")

    p = sub.add_parser("process", help="F7: PAGE-XML workspace in -> "
                       "reading-ordered PAGE-XML out (resumable)")
    p.add_argument("--input", required=True, help="directory of *.xml pages")
    p.add_argument("--output", required=True, help="output page directory")

    args = ap.parse_args(argv)
    if args.cmd == "snapshots":
        from eynollah_spark.manifest import snapshots

        print(json.dumps({"output": args.output, "snapshots": [
            {"snapshot_id": s["snapshot_id"], "parent_id": s["parent_id"], "ts": s["ts"],
             **{k: sum(m[k] for m in s["parts"].values())
                for k in ("docs", "spans", "quarantined")}}
            for s in snapshots(args.output)]}))
        return

    from pyspark.sql import functions as F

    from eynollah_spark.session import build_session

    spark = build_session(app=f"cli_{args.cmd}", cpus=args.cpus)
    try:
        if args.cmd == "layout":
            from eynollah_spark.manifest import run_extraction

            docs = spark.read.parquet(args.input)
            if args.right2left:
                docs = docs.withColumn(
                    "meta", F.col("meta").withField("rtl", F.lit(True)))
            ekw = {"num_col_lower": args.num_col_lower,
                   "num_col_upper": args.num_col_upper}
            if args.printspace_margin > 0 and not args.ignore_page_extraction:
                ekw["printspace_margin"] = args.printspace_margin
            summary = run_extraction(docs, args.output, n_parts=args.n_parts,
                                     extract_kwargs=ekw)
            print(json.dumps(summary))
        elif args.cmd == "extract-images":
            docs = spark.read.parquet(args.input)
            (docs.select(
                "doc_id", F.explode(F.expr("filter(spans, s -> s.kind = 'image')")).alias("s"))
             .select("doc_id", "s.media_ref", "s.offset")
             .write.mode("overwrite").parquet(args.output))
            print(json.dumps({"ok": True, "output": args.output}))
        elif args.cmd == "machine-ro":
            from eynollah_spark.mb_reading_order import machine_reading_order

            flat = spark.read.parquet(args.input)
            machine_reading_order(flat).write.mode("overwrite").parquet(args.output)
            print(json.dumps({"ok": True, "output": args.output}))
        elif args.cmd == "gen-corpus":
            from eynollah_spark.corpus import corpus_flat_spark, nest_corpus

            flat = corpus_flat_spark(spark, args.n_docs)
            out = nest_corpus(flat) if args.nested else flat
            out.write.mode("overwrite").parquet(args.output)
            print(json.dumps({"ok": True, "n_docs": args.n_docs, "output": args.output}))
        elif args.cmd == "full-layout":
            from eynollah_spark.pipeline import extract_full_layout, filter_printspace

            flat = spark.read.parquet(args.input)
            if args.right2left:
                flat = flat.withColumn("rtl", F.lit(True))
            if args.printspace_margin > 0 and not args.ignore_page_extraction:
                flat = filter_printspace(flat, margin_frac=args.printspace_margin)
            extract_full_layout(
                flat, headers_off=args.headers_off,
                num_col_lower=args.num_col_lower,
                num_col_upper=args.num_col_upper,
            ).write.mode("overwrite").parquet(args.output)
            print(json.dumps({"ok": True, "output": args.output}))
        elif args.cmd in ("binarize", "enhance"):
            from eynollah_spark import multimodal

            media = spark.read.parquet(args.input)
            fn = multimodal.binarize if args.cmd == "binarize" else multimodal.enhance
            fn(media).write.mode("overwrite").parquet(args.output)
            print(json.dumps({"ok": True, "output": args.output}))
        elif args.cmd == "plot":
            from eynollah_spark.pagexml import write_dir
            from eynollah_spark.plot import to_svg_df

            n = write_dir(to_svg_df(layout_rows(spark, args.input)), args.output, "svg")
            print(json.dumps({"ok": True, "pages": n, "output": args.output}))
        elif args.cmd == "process":
            from eynollah_spark.processor import SparkLayoutProcessor

            proc = SparkLayoutProcessor(spark)
            proc.setup()
            n = proc.process_workspace(args.input, args.output)
            print(json.dumps({"ok": True, "pages_written": n,
                              "output": args.output}))
        elif args.cmd == "page-xml":
            from eynollah_spark.pagexml import to_pagexml_df, write_dir

            write_dir(to_pagexml_df(layout_rows(spark, args.input, args.coords)),
                      args.output, "xml")
            print(json.dumps({"ok": True, "output": args.output,
                              "coords": args.coords}))
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
