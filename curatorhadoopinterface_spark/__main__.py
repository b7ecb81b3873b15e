"""Engine CLI (A31: the reference's two arg parsers,
src/.../infrastructure/ArgumentParser.java:27-113 and
CuratorClientArgParser.java:15-49, as one argparse surface).

    python -m curatorhadoopinterface_spark annotate --input DIR --output DIR --mode NER
    python -m curatorhadoopinterface_spark verify  --input DIR --mode POS NER
    python -m curatorhadoopinterface_spark queries

Mode names are fuzzy like the reference's (AnnotationMode.java:29-73):
case-insensitive, unique-prefix, and common aliases resolve
("ner", "tokenizer", "stanford" all work).
"""

from __future__ import annotations

import argparse
import sys

from curatorhadoopinterface_spark.plans.registry import MODES

ALIASES = {
    "TOKENIZER": "TOKEN",
    "TOKENS": "TOKEN",
    "SENTENCES": "SENTENCE",
    "SSPLIT": "SENTENCE",
    "CHUNKER": "CHUNK",
    "NOMINAL_SRL": "NOM_SRL",
    "VERBAL_SRL": "VERB_SRL",
    "SRL": "VERB_SRL",
    "STANFORD": "STANFORD_PARSE",
    "CHARNIAK": "PARSE",
    "WIKIFIER": "WIKI",
    "COREFERENCE": "COREF",
}


def resolve_mode(raw: str) -> str:
    """Fuzzy mode resolution (AnnotationMode.java:29-73 semantics)."""
    up = raw.strip().upper().replace("-", "_").replace(" ", "_")
    if up in MODES:
        return up
    if up in ALIASES:
        return ALIASES[up]
    prefix = [m for m in MODES if m.startswith(up)]
    if len(prefix) == 1:
        return prefix[0]
    raise SystemExit(
        f"unknown annotation mode {raw!r}; valid: {', '.join(sorted(MODES))}"
    )


def cmd_annotate(args: argparse.Namespace) -> None:
    from curatorhadoopinterface_spark.io import read_text_corpus
    from curatorhadoopinterface_spark.plans.provide import provide
    from curatorhadoopinterface_spark.session import get_spark

    spark = get_spark("cli-annotate")
    modes = [resolve_mode(m) for m in args.mode]
    if args.format == "text":
        df = read_text_corpus(spark, args.input)
    elif args.format == "thrift":
        # migrate straight off a reference-serialized corpus (one
        # TBinaryProtocol Record file per doc) — existing views are kept
        # and provide() computes only what's missing per record
        from curatorhadoopinterface_spark.io import read_thrift_records

        df = read_thrift_records(spark, args.input)
    else:
        df = spark.read.parquet(args.input)
    if args.store:
        from curatorhadoopinterface_spark.plans.incremental import RecordStore

        store = RecordStore(spark, args.store)
        out = store.provide_incremental(
            df,
            modes,
            force=args.force,
            force_start=resolve_mode(args.force_start) if args.force_start else None,
            best_effort=args.best_effort,
        )
    else:
        out = provide(
            df,
            modes,
            best_effort=args.best_effort,
            force=args.force,
            force_start=resolve_mode(args.force_start) if args.force_start else None,
        )
        out.write.mode("overwrite").parquet(args.output)
        out = spark.read.parquet(args.output)
    n = out.count()
    errs = (
        out.filter(out["annotation_error"].isNotNull()).count()
        if "annotation_error" in out.columns
        else 0
    )
    print(f"annotated {n} records -> {args.output or args.store} ({errs} errors)")


def cmd_verify(args: argparse.Namespace) -> None:
    from curatorhadoopinterface_spark.plans.verify import verify_records
    from curatorhadoopinterface_spark.session import get_spark

    spark = get_spark("cli-verify")
    modes = [resolve_mode(m) for m in args.mode]
    df = spark.read.parquet(args.input)
    report = verify_records(df, modes)
    bad = report.filter(~report["ok"]).count()
    total = report.count()
    print(f"verified {total} records: {total - bad} ok, {bad} mismatched")
    sys.exit(1 if bad else 0)


def cmd_compact(args: argparse.Namespace) -> None:
    """Record-store maintenance: rewrite every hash bucket to one
    size-packed file (the store_compaction op as a CLI — streaming
    upserts and incremental runs leave per-batch small files behind).
    A RecordStore (``id_bucket=`` directories) is folded by
    ``RecordStore.compact``, its update deltas included, one file per
    bucket; other layouts are rewritten to ``--target-files`` files."""
    import glob
    import os
    import shutil

    from curatorhadoopinterface_spark.plans.incremental import RecordStore
    from curatorhadoopinterface_spark.session import get_spark

    spark = get_spark("cli-compact")
    store = args.store.rstrip("/")
    staged = store + ".compacting"

    def n_files(path: str) -> int:
        return len(glob.glob(os.path.join(path, "**", "part-*"), recursive=True))

    before = n_files(store)
    # the partition column names the store's name=value subdirectories
    # (RecordStore's id_bucket=, older __bucket= layouts); an
    # unpartitioned store gets a plain single-dir rewrite
    part_cols = sorted(
        {d.split("=", 1)[0] for d in os.listdir(store) if "=" in d}
    )
    key = part_cols[0] if part_cols else None
    if key == "id_bucket":
        source = RecordStore(spark, store)
        n_source = source.load().count()
        source.compact(staged)
        n_staged = RecordStore(spark, staged).load().count()
    else:
        df = spark.read.parquet(store)
        n_source = df.count()
        w = df.repartition(args.target_files, key) if key else df.coalesce(args.target_files)
        writer = w.write.mode("overwrite")
        if key:
            writer = writer.partitionBy(key)
        writer.parquet(staged)
        n_staged = spark.read.parquet(staged).count()
    # safety: never install a short staged write as truth, and never have
    # a moment where the canonical path is missing — validate row count,
    # swap via rename-aside, delete the old copy only after the swap.
    if n_staged != n_source:
        raise SystemExit(
            f"compaction aborted: staged store has {n_staged} rows, "
            f"source has {n_source}; staged copy left at {staged}"
        )
    old = store + ".old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(store, old)
    os.rename(staged, store)
    shutil.rmtree(old)
    print(f"compacted {store}: {before} -> {n_files(store)} files")


def cmd_queries(_: argparse.Namespace) -> None:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    for name in sorted(qs):
        kind = "oracle" if name in oracles else "rows-only"
        print(f"{name}\t{kind}")


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="curatorhadoopinterface_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pa = sub.add_parser("annotate", help="annotate a corpus (A24/A7)")
    pa.add_argument("--input", required=True, help="corpus dir (text files or parquet)")
    pa.add_argument("--output", default=None, help="output parquet dir")
    pa.add_argument("--mode", nargs="+", required=True, help="annotation mode(s)")
    pa.add_argument("--format", choices=("text", "parquet", "thrift"), default="text")
    pa.add_argument(
        "--best-effort",
        action="store_true",
        help="carry per-doc failures in annotation_error instead of failing",
    )
    pa.add_argument("--store", default=None, help="record-store dir (incremental A21)")
    pa.add_argument(
        "--force",
        action="store_true",
        help="recompute the target view(s) even if present "
        "(provide forceUpdate, curator.thrift:66)",
    )
    pa.add_argument(
        "--force-start",
        default=None,
        help="re-run the pipeline from this dependency stage onward "
        "(JobHandler [START] override)",
    )
    pa.set_defaults(fn=cmd_annotate)

    pv = sub.add_parser("verify", help="re-annotate + compare every view (A19)")
    pv.add_argument("--input", required=True, help="annotated parquet dir")
    pv.add_argument("--mode", nargs="+", required=True)
    pv.set_defaults(fn=cmd_verify)

    pq = sub.add_parser("queries", help="list declared queries")
    pq.set_defaults(fn=cmd_queries)

    pc = sub.add_parser(
        "compact", help="rewrite record-store buckets to size-packed files"
    )
    pc.add_argument("--store", required=True, help="record-store parquet dir")
    pc.add_argument(
        "--target-files",
        type=int,
        default=16,
        help="files to write for a store that is not a RecordStore "
        "(a RecordStore gets one file per bucket)",
    )
    pc.set_defaults(fn=cmd_compact)

    args = p.parse_args(argv)
    if args.cmd == "annotate" and not args.output and not args.store:
        p.error("annotate requires --output or --store")
    args.fn(args)


if __name__ == "__main__":
    main()
