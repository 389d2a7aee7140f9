"""CLI entry points — parity with the reference's subcommands
(``app/src/main.cpp:98-105``: preprocessing, append, api, initialize).

Usage::

    python -m lapis_silo_spark.cli preprocessing \
        --config database_config.yaml --input data.ndjson --output /data/root
    python -m lapis_silo_spark.cli append \
        --config database_config.yaml --input more.ndjson --root /data/root
    python -m lapis_silo_spark.cli api --root /data/root --port 8081
    python -m lapis_silo_spark.cli initialize --root /data/root
"""

from __future__ import annotations

import argparse
import json
import sys


def _build_config(config_path: str, genomes_path: str | None):
    """database_config.yaml (+ reference_genomes.json) → TableConfig."""
    import yaml

    from lapis_silo_spark.sources.ndjson import TableConfig

    with open(config_path) as fh:
        raw = yaml.safe_load(fh)
    schema = raw.get("schema", raw)
    metadata = {}
    pk = schema.get("primaryKey", "primary_key")
    for entry in schema.get("metadata", []):
        name = entry["name"]
        if name == pk:
            continue
        typ = {"string": "string", "int": "int", "float": "float",
               "date": "date", "boolean": "boolean"}[entry["type"]]
        metadata[name] = typ
    nuc, aa = {}, {}
    if genomes_path:
        with open(genomes_path) as fh:
            genomes = json.load(fh)
        nuc = {e["name"]: e["sequence"].upper()
               for e in genomes.get("nucleotideSequences", [])}
        aa = {e["name"]: e["sequence"].upper()
              for e in genomes.get("genes", [])}
    return TableConfig(
        name="default", primary_key=pk, metadata=metadata,
        nuc_sequences=nuc, aa_sequences=aa,
    )


def cmd_preprocessing(args) -> int:
    from lapis_silo_spark.catalog import Database
    from lapis_silo_spark.session import get_spark
    from lapis_silo_spark.sources.ndjson import ingest_ndjson
    from lapis_silo_spark.storage import save_version

    spark = get_spark()
    config = _build_config(args.config, args.reference_genomes)
    main, store = ingest_ndjson(spark, args.input, config)
    db = Database(spark)
    db.register_table("default", main, primary_key=config.primary_key)
    if config.nuc_sequences or config.aa_sequences:
        db.register_sequence_store("default", store)
    if args.lineage_definition:
        from lapis_silo_spark.sources.lineage import (
            build_lineage_closure,
            parse_lineage_definition_yaml,
        )

        with open(args.lineage_definition) as fh:
            text = fh.read()
        parents, aliases = parse_lineage_definition_yaml(text)
        db.register_lineage(
            args.lineage_column,
            build_lineage_closure(spark, parents, aliases),
            definition_text=text,
        )
    if args.phylo_tree:
        from lapis_silo_spark.sources.phylo import (
            build_phylo_nodes,
            parse_tree_file,
        )

        with open(args.phylo_tree) as fh:
            tree_text = fh.read()
        db.register_phylo_tree(
            args.phylo_column,
            build_phylo_nodes(spark, parse_tree_file(args.phylo_tree, tree_text)),
        )
    version = save_version(db, args.output)
    print(json.dumps({"version": version, "root": args.output}))
    return 0


def cmd_append(args) -> int:
    from lapis_silo_spark.session import get_spark
    from lapis_silo_spark.sources.ndjson import ingest_ndjson
    from lapis_silo_spark.storage import append_version, load_version

    spark = get_spark()
    config = _build_config(args.config, args.reference_genomes)
    db = load_version(spark, args.root)
    main, store = ingest_ndjson(spark, args.input, config)
    # only hand over the store when this config declares sequences —
    # otherwise append_version would replace the stored reference genome
    # with the placeholder empty one
    has_seqs = bool(config.nuc_sequences or config.aa_sequences)
    version = append_version(db, args.root, "default", main,
                             store if has_seqs else None)
    print(json.dumps({"version": version}))
    return 0


def cmd_api(args) -> int:
    from lapis_silo_spark.server import serve
    from lapis_silo_spark.session import get_spark
    from lapis_silo_spark.storage import load_version

    # FAIR job scheduling for the serving path: concurrent /query requests
    # share one SparkSession, and FIFO lets one heavy aggregate head-of-line
    # block cheap lookups — measured in tools/serving_soak.py (light-query
    # p95 at concurrency 8: 1422 ms FIFO vs 361 ms FAIR at sf0.1); the
    # reference gets the same isolation from its Poco worker pool
    # (query_handler.cpp:38). FAIR only hands slots that free up to waiting
    # requests; it does not preempt running tasks, so a request still
    # waits while its neighbours' tasks hold every slot.
    spark = get_spark(extra_conf={"spark.scheduler.mode": "FAIR"})
    db = load_version(spark, args.root)
    serve(db, host=args.host, port=args.port)
    return 0


def cmd_initialize(args) -> int:
    """Validate a data root: manifest readable, latest pointer consistent."""
    from lapis_silo_spark.session import get_spark
    from lapis_silo_spark.storage import latest_version, load_version

    spark = get_spark()
    version = latest_version(args.root)
    db = load_version(spark, args.root, version)
    counts = {name: db.table(name).count() for name in db.tables}
    print(json.dumps({"version": version, "tables": counts}))
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="lapis-silo-spark")
    sub = parser.add_subparsers(dest="command", required=True)

    pre = sub.add_parser("preprocessing", help="ingest NDJSON → first version")
    pre.add_argument("--config", required=True)
    pre.add_argument("--input", required=True)
    pre.add_argument("--output", required=True)
    pre.add_argument("--reference-genomes")
    pre.add_argument("--lineage-definition")
    pre.add_argument("--lineage-column", default="pango_lineage")
    pre.add_argument("--phylo-tree")
    pre.add_argument("--phylo-column", default="usherTree")
    pre.set_defaults(func=cmd_preprocessing)

    app = sub.add_parser("append", help="append NDJSON → new version")
    app.add_argument("--config", required=True)
    app.add_argument("--input", required=True)
    app.add_argument("--root", required=True)
    app.add_argument("--reference-genomes")
    app.set_defaults(func=cmd_append)

    api = sub.add_parser("api", help="serve the HTTP API")
    api.add_argument("--root", required=True)
    api.add_argument("--host", default="127.0.0.1")
    api.add_argument("--port", type=int, default=8081)
    api.set_defaults(func=cmd_api)

    ini = sub.add_parser("initialize", help="validate a data root")
    ini.add_argument("--root", required=True)
    ini.set_defaults(func=cmd_initialize)

    args = parser.parse_args(argv)
    return args.func(args)


if __name__ == "__main__":
    sys.exit(main())
