"""Command-line entry points — the operational surface reference users
invoke (CWL wraps ``concatenate.py`` / ``make_uuids_tsv.py`` as CLIs;
steps/concatenate.cwl:5-8). Subcommands:

  product   — build + write the CODEX data product, maintainable by
              product-delta (reference: bin/concatenate.py main());
              product-bootstrap is an alias
  product-delta / fleet-delta — one O(delta) release batch on a
              written product / on every tissue product of a fleet
  catalog   — build the uuids catalog TSV from recorded search hits
              (reference: make_uuids_tsv.py main())
  curate    — run the training-data curation pipeline over a corpus
  query     — run any registered query and write/show the result

Every subcommand builds one SparkSession via the engine factory, so
cluster configuration comes from the usual spark-submit/env knobs.
"""

from __future__ import annotations

import argparse
import json
import sys

from codex_data_products_spark.session import get_spark


def _cmd_product(args: argparse.Namespace) -> int:
    from codex_data_products_spark.plans.codex_pipeline import (
        build_product,
        write_product,
    )

    spark = get_spark(app_name="codex-product")
    product = build_product(
        spark,
        args.data_dir,
        args.uuids_tsv,
        tissue=args.tissue,
        product_uuid=args.product_uuid,
        creation_time=args.creation_time,
    )
    manifest = write_product(product, args.out)
    json.dump(manifest, sys.stdout, indent=2)
    print()
    return 0


def _cmd_product_delta(args: argparse.Namespace) -> int:
    from codex_data_products_spark.streaming.product_ivm import (
        apply_product_delta,
    )

    spark = get_spark(app_name="codex-product-delta")
    manifest = apply_product_delta(
        spark,
        args.out,
        args.data_dir,
        args.uuids_tsv,
        args.batch_id,
        add=args.add or (),
        remove=args.remove or (),
        tissue=args.tissue,
    )
    json.dump(manifest, sys.stdout, indent=2)
    print()
    return 0


def _cmd_fleet_delta(args: argparse.Namespace) -> int:
    from codex_data_products_spark.streaming.product_ivm import (
        apply_fleet_delta,
    )

    tissue_map = None
    if getattr(args, "tissue_map", None):
        with open(args.tissue_map) as fh:
            if args.tissue_map.endswith((".tsv", ".txt")):
                tissue_map = dict(
                    line.rstrip("\n").split("\t", 1)
                    for line in fh
                    if line.strip()
                )
            else:
                tissue_map = json.load(fh)
    spark = get_spark(app_name="codex-fleet-delta")
    manifests = apply_fleet_delta(
        spark,
        args.root,
        args.data_dir,
        args.uuids_tsv,
        args.batch_id,
        add=args.add or (),
        remove=args.remove or (),
        tissue_by_uuid=tissue_map,
    )
    json.dump(manifests, sys.stdout, indent=2)
    print()
    return 0


def _cmd_dedup_compact(args: argparse.Namespace) -> int:
    from codex_data_products_spark.streaming.dedup_ivm import (
        compact_dedup_pairs,
        compact_simhash_pairs,
        expire_dedup_state,
    )
    from codex_data_products_spark.streaming.ann_ivm import (
        compact_ann_postings,
    )
    from codex_data_products_spark.streaming.emb_dedup_ivm import (
        compact_emb_state,
    )
    from codex_data_products_spark.streaming.substring_ivm import (
        compact_substring_coverage,
    )
    from codex_data_products_spark.streaming.text_ivm import (
        compact_vocab_state,
    )

    spark = get_spark(app_name="dedup-compact")
    fn = {
        "simhash": compact_simhash_pairs,
        "minhash": compact_dedup_pairs,
        "substring": compact_substring_coverage,
        "embedding": compact_emb_state,
        "ann": compact_ann_postings,
        "vocab": compact_vocab_state,
    }[args.family]
    fn(spark, args.state_dir, args.upto, gc=not args.no_gc)
    removed = expire_dedup_state(args.state_dir, keep_last=args.keep_last)
    json.dump({"compacted_upto": args.upto, "expired": removed}, sys.stdout)
    print()
    return 0


def _cmd_catalog(args: argparse.Namespace) -> int:
    from codex_data_products_spark.plans.catalog import (
        build_catalog,
        write_catalog_tsv,
    )
    from codex_data_products_spark.sources.organ_yaml import load_organ_map

    spark = get_spark(app_name="codex-catalog")
    with open(args.hits_json) as f:
        hits = json.load(f)
    organ_map = load_organ_map(args.organ_yaml) if args.organ_yaml else None
    catalog = build_catalog(
        spark,
        [json.dumps(h) for h in hits],
        organ_map=organ_map,
        organ=args.organ,
    )
    write_catalog_tsv(catalog, args.out)
    print(f"wrote catalog ({catalog.count()} datasets) to {args.out}")
    return 0


def _cmd_curate(args: argparse.Namespace) -> int:
    from codex_data_products_spark.plans.training_pipeline import (
        CurationConfig,
        write_curated,
    )

    spark = get_spark(app_name="corpus-curate")
    docs = spark.read.parquet(args.input)
    cfg = CurationConfig(
        min_tokens=args.min_tokens,
        keep_langs=tuple(args.langs.split(",")),
        max_dup_span_frac=args.max_dup_span_frac,
    )
    manifest = write_curated(docs, args.out, cfg)
    json.dump(manifest, sys.stdout, indent=2)
    print()
    return 0


def _cmd_stream(args: argparse.Namespace) -> int:
    """One exactly-once availableNow drain of the streaming curation
    pipeline over a document-stream directory; re-invoking with the
    same checkpoint resumes from new files only (incremental corpus
    ingestion as a cron-able command)."""
    from codex_data_products_spark.streaming.curation import (
        curate_stream,
        run_ingestion,
    )

    spark = get_spark(app_name="corpus-stream")
    docs = (
        spark.readStream.schema("doc_id long, ts timestamp, text string")
        .parquet(args.input)
    )
    run_ingestion(
        curate_stream(docs), args.out, args.checkpoint
    )
    print(f"drained new files from {args.input} into {args.out}")
    return 0


def _cmd_query(args: argparse.Namespace) -> int:
    from codex_data_products_spark import registry

    registry.load_all()
    if args.name not in registry.QUERIES:
        print(
            f"unknown query {args.name!r}; available: "
            + ", ".join(sorted(registry.QUERIES)),
            file=sys.stderr,
        )
        return 2
    spark = get_spark(app_name=f"query-{args.name}")
    df = registry.QUERIES[args.name](spark, args.sf_dir)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
    else:
        df.show(args.limit, truncate=False)
    return 0


def _cmd_explain(args: argparse.Namespace) -> int:
    from codex_data_products_spark import registry

    registry.load_all()
    if args.name not in registry.QUERIES:
        print(f"unknown query {args.name!r}", file=sys.stderr)
        return 2
    spark = get_spark(app_name=f"explain-{args.name}")
    df = registry.QUERIES[args.name](spark, args.sf_dir)
    df.explain(args.mode)
    return 0


def _cmd_verify(args: argparse.Namespace) -> int:
    from codex_data_products_spark.oracle import verify_queries

    spark = get_spark(app_name="verify")
    names = args.names or None
    results = verify_queries(
        spark,
        args.sf_dir,
        names,
        progress=args.verbose,
        mode="fingerprint" if args.fingerprint else "exact",
    )
    n_bad = 0
    for name, problems in sorted(results.items()):
        if problems:
            n_bad += 1
            print(f"MISMATCH {name}: " + " | ".join(problems))
    print(f"{len(results)} verified, {n_bad} mismatched")
    return 1 if n_bad else 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="codex-data-products-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pp = sub.add_parser(
        "product",
        aliases=["product-bootstrap"],
        help="build + write the CODEX data product (snapshot v=0 with its "
        "maintenance state, ready for product-delta)",
    )
    pp.add_argument("--data-dir", required=True)
    pp.add_argument("--uuids-tsv", required=True)
    pp.add_argument("--tissue", default=None)
    pp.add_argument("--out", required=True)
    pp.add_argument("--product-uuid", default=None)
    pp.add_argument("--creation-time", default=None)
    pp.set_defaults(fn=_cmd_product)

    pd = sub.add_parser(
        "product-delta",
        help="apply one O(delta) release batch (add/remove datasets) to a "
        "product written by `product`",
    )
    pd.add_argument("--out", required=True, help="maintained product dir")
    pd.add_argument("--data-dir", required=True)
    pd.add_argument("--uuids-tsv", required=True)
    pd.add_argument("--batch-id", type=int, required=True)
    pd.add_argument("--add", nargs="*", default=[])
    pd.add_argument("--remove", nargs="*", default=[])
    pd.add_argument("--tissue", default=None)
    pd.set_defaults(fn=_cmd_product_delta)

    pf = sub.add_parser(
        "fleet-delta",
        help="apply one release batch (adds routed via the catalog, "
        "removes via committed ownership) to every maintained tissue "
        "product under --root, lockstep-anchored",
    )
    pf.add_argument("--root", required=True, help="fleet root (one product dir per tissue)")
    pf.add_argument("--data-dir", required=True)
    pf.add_argument("--uuids-tsv", required=True)
    pf.add_argument("--batch-id", type=int, required=True)
    pf.add_argument("--add", nargs="*", default=[])
    pf.add_argument("--remove", nargs="*", default=[])
    pf.add_argument(
        "--tissue-map",
        default=None,
        help="uuid -> tissue mapping for catalogs without a tissue "
        "column: a JSON object file, or a 2-column TSV (uuid<TAB>"
        "tissue); mirrors the library's tissue_by_uuid",
    )
    pf.set_defaults(fn=_cmd_fleet_delta)

    pdc = sub.add_parser(
        "dedup-compact",
        help="compact a dedup maintainer's append-only pair log and "
        "expire old state versions (run between maintenance batches)",
    )
    pdc.add_argument("state_dir")
    pdc.add_argument("--upto", type=int, required=True)
    pdc.add_argument(
        "--family",
        choices=[
            "simhash",
            "minhash",
            "substring",
            "embedding",
            "ann",
            "vocab",
        ],
        default="simhash",
    )
    pdc.add_argument("--keep-last", type=int, default=2)
    pdc.add_argument("--no-gc", action="store_true")
    pdc.set_defaults(fn=_cmd_dedup_compact)

    pc = sub.add_parser("catalog", help="build the uuids catalog TSV")
    pc.add_argument("--hits-json", required=True, help="recorded search hits (JSON list)")
    pc.add_argument("--organ-yaml", default=None)
    pc.add_argument("--organ", default=None)
    pc.add_argument("--out", required=True)
    pc.set_defaults(fn=_cmd_catalog)

    pu = sub.add_parser("curate", help="curate a document corpus")
    pu.add_argument("--input", required=True, help="parquet with doc_id,text")
    pu.add_argument("--out", required=True)
    pu.add_argument("--min-tokens", type=int, default=10)
    pu.add_argument("--langs", default="en")
    pu.add_argument(
        "--max-dup-span-frac",
        type=float,
        default=None,
        help="drop docs whose duplicated-span token coverage exceeds "
        "this fraction (ExactSubstr gate; default: stage disabled)",
    )
    pu.set_defaults(fn=_cmd_curate)

    pq = sub.add_parser("query", help="run a registered query")
    pq.add_argument("name")
    pq.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    pq.add_argument("--out", default=None)
    pq.add_argument("--limit", type=int, default=20)
    pq.set_defaults(fn=_cmd_query)

    pe = sub.add_parser(
        "explain", help="print the physical plan of a registered query"
    )
    pe.add_argument("name")
    pe.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    pe.add_argument(
        "--mode",
        default="formatted",
        choices=["simple", "extended", "codegen", "cost", "formatted"],
    )
    pe.set_defaults(fn=_cmd_explain)

    pv = sub.add_parser(
        "verify",
        help="audit registered queries against the DuckDB oracle",
    )
    pv.add_argument("names", nargs="*", help="query names (default: all)")
    pv.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    pv.add_argument("--verbose", action="store_true")
    pv.add_argument(
        "--fingerprint",
        action="store_true",
        help="compare in-engine order-insensitive digests instead of "
        "materializing results onto the driver (stress-SF sweeps)",
    )
    pv.set_defaults(fn=_cmd_verify)

    ps = sub.add_parser(
        "stream",
        help="exactly-once availableNow drain of streaming corpus curation",
    )
    ps.add_argument("--input", required=True)
    ps.add_argument("--out", required=True)
    ps.add_argument("--checkpoint", required=True)
    ps.set_defaults(fn=_cmd_stream)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
