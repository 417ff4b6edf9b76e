"""CLI entry point — the Spark-native analog of the reference's
``napalm-logs`` daemon command (scripts/cli.py:443).

    python -m napalm_logs_spark normalize --source DIR --output DIR
    python -m napalm_logs_spark run --source DIR --sink DIR \
        --checkpoint DIR [--metrics FILE.jsonl] [--no-dedup] \
        [--profiles DIR] [--master local[*]]
    python -m napalm_logs_spark compact --table DIR \
        [--upto N] [--target-file-mb 128]
    python -m napalm_logs_spark neardup --source DIR --out DIR \
        --index DIR --checkpoint DIR [--dim N] [--threshold 0.95]
    python -m napalm_logs_spark docfilter --source DIR --output DIR \
        [--gopher] [--pii-scrub] [--langid] [--text-col text]
    python -m napalm_logs_spark dedup --source DIR --output DIR \
        [--method exact|minhash] [--threshold 0.8]

``normalize`` is the batch path (read → normalize → write parquet);
``run`` is the streaming pipeline (readStream → normalize → TTL dedup →
exactly-once sink), resumable from its checkpoint; ``compact`` is the
table-maintenance job for long-running sinks (rewrite committed
micro-batch dirs into size-targeted files — see
:mod:`.streaming.maintenance`); ``neardup`` is the streaming
cross-batch embedding near-dup filter (exactly-once LSH index — see
:mod:`.streaming.neardup_stream`), resumable from its checkpoint;
``docfilter`` is the batch training-data quality pass (Gopher rules →
PII scrub → language id, each optional — :mod:`.operators.text`);
``dedup`` is batch document dedup (exact hash or MinHash-LSH cluster
collapse — :mod:`.operators.docdedup`).
"""

from __future__ import annotations

import argparse
import sys


# Session settings of every command.  Shuffle partitions are added per
# call: they are also the state partitions of a new streaming checkpoint.
_SESSION_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    # the at-scale state-store provider: spills to disk instead of
    # holding every key on the JVM heap
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
}


def _session(master: str, shuffle_partitions: int | None):
    """The CLI's session and the caller's settings it overrode.

    ``shuffle_partitions=None`` sizes shuffles, and so the state
    partitions of a new checkpoint, to the cores: one state store and
    one sink file per task slot.  A resumed query keeps the count its
    checkpoint was created with (Spark restores it from the offset log).

    Returns ``(spark, previous)``: ``previous`` is None when this call
    created the session, else the caller's value of every key set here
    (None = unset), for :func:`_restore` once the command is done."""
    from pyspark.sql import SparkSession

    preexisting = SparkSession.getActiveSession() is not None
    spark = (
        SparkSession.builder.master(master).appName("napalm-logs-spark")
        .getOrCreate()
    )
    conf = {
        **_SESSION_CONF,
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or spark.sparkContext.defaultParallelism
        ),
    }
    previous = (
        {k: spark.conf.get(k, None) for k in conf} if preexisting else None
    )
    for k, v in conf.items():
        spark.conf.set(k, v)
    return spark, previous


def _restore(spark, previous: dict) -> None:
    for k, v in previous.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(prog="napalm_logs_spark")
    parser.add_argument("--master", default="local[*]")
    parser.add_argument("--profiles", default=None, help="profile corpus dir")
    parser.add_argument("--shuffle-partitions", type=int, default=None,
                        help="shuffle and state partitions (default: the "
                             "session's cores); a streaming checkpoint "
                             "keeps the count it was created with")
    parser.add_argument("--config-file", default=None,
                        help="YAML config merged UNDER explicit flags "
                             "(reference scripts/cli.py:272-282 "
                             "precedence: flag > file > default); may "
                             "define the run command's sinks: list — "
                             "per-sink filters/serializers the flags "
                             "cannot express; ${ENV} values interpolate")
    sub = parser.add_subparsers(dest="command", required=True)

    p_norm = sub.add_parser("normalize", help="batch normalize transcripts")
    p_norm.add_argument("--source", required=True, help="transcript parquet dir")
    p_norm.add_argument("--output", required=True, help="envelope parquet dir")

    p_run = sub.add_parser("run", help="streaming pipeline")
    # required-ness validated after the config merge: a config file may
    # supply source/sink/checkpoint (a ported napalm-logs deployment
    # config names its transports there, not on the command line)
    p_run.add_argument("--source", required=False, default=None)
    p_run.add_argument("--sink", action="append", required=False, default=None,
                       help="sink dir (repeatable for fan-out); "
                            "'console' prints each batch (reference "
                            "transport/cli.py debug sink); "
                            "'kafka://HOST:PORT/TOPIC' publishes "
                            "envelopes to a Kafka topic (reference "
                            "transport/kafka.py); 'http(s)://...' "
                            "POSTs envelopes from the executors "
                            "(reference transport/http.py)")
    p_run.add_argument("--checkpoint", required=False, default=None)
    p_run.add_argument("--metrics", default=None, help="metrics JSONL path")
    p_run.add_argument("--no-dedup", action="store_true")
    p_run.add_argument("--watermark", default="30 seconds",
                       help="event-time lateness bound, and also the "
                            "dedup horizon: a same-key envelope is "
                            "dropped until the watermark passes the "
                            "kept one's event time plus this delay")
    p_run.add_argument("--max-files-per-trigger", type=int, default=None,
                       help="micro-batch admission bound (the ZMQ-HWM "
                            "backpressure analog)")
    p_run.add_argument("--orphan-sink", default=None,
                       help="also emit request-timeout alerts (agent "
                            "turns with no tool response within "
                            "--orphan-horizon) to this dir")
    p_run.add_argument("--orphan-horizon", type=int, default=60)
    p_run.add_argument("--source-format", default="parquet",
                       choices=("parquet", "json"),
                       help="file-source format (json = JSON-lines "
                            "transcripts, PERMISSIVE)")

    p_cmp = sub.add_parser(
        "compact", help="rewrite committed sink batches into "
                        "size-targeted files (small-file maintenance)")
    p_cmp.add_argument("--table", required=True,
                       help="sink dir (the _batch_id=N layout)")
    p_cmp.add_argument("--upto", type=int, default=None,
                       help="compact batches <= N (default: newest-but-"
                            "one — the newest stays replayable)")
    p_cmp.add_argument("--target-file-mb", type=int, default=128)

    p_nd = sub.add_parser(
        "neardup", help="streaming cross-batch embedding near-dup "
                        "filter (exactly-once LSH index)")
    p_nd.add_argument("--source", required=True,
                      help="parquet dir of (vec_id, embedding) rows")
    p_nd.add_argument("--out", required=True, help="kept-rows dir")
    p_nd.add_argument("--index", required=True, help="LSH index dir")
    p_nd.add_argument("--checkpoint", required=True)
    p_nd.add_argument("--dim", type=int, default=None,
                      help="embedding dimension (default: from data)")
    p_nd.add_argument("--threshold", type=float, default=0.95)
    p_nd.add_argument("--id-col", default="vec_id")
    p_nd.add_argument("--emb-col", default="embedding")
    p_nd.add_argument("--metrics", default=None,
                      help="per-batch kept/dropped JSONL path")

    p_df = sub.add_parser(
        "docfilter", help="batch training-data quality pass: Gopher "
                          "rules -> PII scrub -> language id")
    p_df.add_argument("--source", required=True, help="documents parquet dir")
    p_df.add_argument("--output", required=True, help="kept-docs parquet dir")
    p_df.add_argument("--text-col", default="text")
    p_df.add_argument("--gopher", action="store_true",
                      help="drop docs failing the Gopher quality gates")
    p_df.add_argument("--pii-scrub", action="store_true",
                      help="replace text with the PII-redacted form "
                           "(keeps per-category counts)")
    p_df.add_argument("--langid", action="store_true",
                      help="attach the n-gram language-id column")

    p_dd = sub.add_parser(
        "dedup", help="batch document dedup: exact hash or MinHash-LSH "
                      "near-dup cluster collapse (lowest doc_id wins)")
    p_dd.add_argument("--source", required=True, help="documents parquet dir")
    p_dd.add_argument("--output", required=True, help="kept-docs parquet dir")
    p_dd.add_argument("--method", choices=("exact", "minhash"), default="exact")
    p_dd.add_argument("--threshold", type=float, default=0.8,
                      help="minhash: exact-Jaccard verify threshold")
    p_dd.add_argument("--text-col", default="text")

    args = parser.parse_args(argv)

    config_sinks = None
    if args.config_file:
        from .config import build_sinks, load_config, merge_config

        cfg = load_config(args.config_file)
        merge_config(
            args, cfg, list(argv if argv is not None else sys.argv[1:]),
            (parser, sub.choices[args.command]),
        )
        if "sinks" in cfg:
            config_sinks = build_sinks(cfg["sinks"])
    if args.command == "run":
        # validate post-merge (flags OR config must provide these)
        missing = [
            n for n in ("source", "checkpoint")
            if getattr(args, n) is None
        ]
        if args.sink is None and not config_sinks:
            missing.append("sink")
        if missing:
            parser.error(
                "run requires --" + ", --".join(missing)
                + " (on the command line or in --config-file)"
            )

    spark, previous = _session(args.master, args.shuffle_partitions)
    try:
        if args.command == "compact":
            from .streaming.maintenance import compact_sink

            stats = compact_sink(
                spark, args.table, upto_batch_id=args.upto,
                target_file_bytes=args.target_file_mb << 20,
            )
            print(f"compacted {args.table}: {stats}")
            return 0

        if args.command == "dedup":
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            from .operators.docdedup import (
                dedup_keep_list,
                exact_dedup,
                minhash_lsh_pairs,
            )

            df = spark.read.parquet(args.source)
            if args.method == "exact":
                kept = exact_dedup(df, text_col=args.text_col)
            else:
                pairs = minhash_lsh_pairs(
                    df, threshold=args.threshold, text_col=args.text_col
                )
                kept = df.join(
                    dedup_keep_list(df, pairs), "doc_id", "left_semi"
                )
            # output count rides the write job (no extra scan of either
            # the source or the written output)
            obs = Observation()
            kept = kept.observe(obs, F.count(F.lit(1)).alias("n"))
            kept.write.mode("overwrite").parquet(args.output)
            print(f"dedup[{args.method}]: kept {obs.get['n']} docs -> "
                  f"{args.output}")
            return 0

        if args.command == "docfilter":
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            from .operators.text import gopher_rules, lang_id, pii_scrub

            df = spark.read.parquet(args.source)
            in_cols = df.columns
            if args.gopher:
                # zero-shuffle: signals ride alongside the original
                # columns, no join back to the source
                df = (
                    gopher_rules(df, text_col=args.text_col, keep_cols=True)
                    .filter("keep")
                    .select(*in_cols)
                )
            if args.pii_scrub:
                df = (
                    pii_scrub(df, text_col=args.text_col)
                    .withColumn(args.text_col, F.col("redacted"))
                    .drop("redacted")
                )
            if args.langid:
                df = lang_id(df, text_col=args.text_col)
            # kept count rides the write job — no extra scans
            obs = Observation()
            df = df.observe(obs, F.count(F.lit(1)).alias("n"))
            df.write.mode("overwrite").parquet(args.output)
            print(f"docfilter: kept {obs.get['n']} docs -> {args.output}")
            return 0

        if args.command == "neardup":
            from pyspark.sql import functions as F

            from .streaming.neardup_stream import run_near_dup_stream_once

            probe = spark.read.parquet(args.source)
            dim = args.dim
            if dim is None:
                # skip NULL/empty embeddings: F.size(NULL) is -1, and a
                # bogus dim would be pinned into the index _PARAMS.json
                row = (
                    probe.filter(F.size(F.col(args.emb_col)) > 0)
                    .select(F.size(args.emb_col)).first()
                )
                if row is None:
                    raise SystemExit(
                        f"cannot infer --dim from {args.source} "
                        "(no non-empty embeddings)")
                dim = row[0]
            run_near_dup_stream_once(
                spark, args.source, args.out, args.index, args.checkpoint,
                probe.schema, dim, threshold=args.threshold,
                timeout_s=None, id_col=args.id_col, emb_col=args.emb_col,
                metrics_jsonl=args.metrics,
            )
            print(f"near-dup filtered -> {args.out} (index {args.index}, "
                  f"resume via {args.checkpoint})")
            return 0

        from .profiles import load_registry

        registry = load_registry(args.profiles)
        if args.command == "normalize":
            from .operators.normalize import normalize

            df = spark.read.parquet(args.source)
            normalize(df, registry).sortWithinPartitions(
                "conv_id", "turn_idx"
            ).write.mode("overwrite").parquet(args.output)
            print(f"normalized -> {args.output}")
        else:
            from .streaming.pipeline import run_stream_once
            from .streaming.sink import SinkSpec

            def _spec(p: str) -> SinkSpec:
                if p == "console":
                    target = {"console": True}
                elif p.startswith("kafka://"):
                    bootstrap, _, topic = p[len("kafka://"):].partition("/")
                    target = {
                        "kafka_bootstrap": bootstrap,
                        "kafka_topic": topic or SinkSpec.kafka_topic,
                    }
                elif p.startswith(("http://", "https://")):
                    target = {"http_url": p}
                else:
                    target = {"path": p}
                return SinkSpec(send_raw=True, send_unknown=True, **target)

            # fan-out = config-file sinks + flag sinks (flags add to,
            # not replace, the deployment config's publisher list)
            sinks = list(config_sinks or []) + [
                _spec(p) for p in (args.sink or [])
            ]
            sink_paths = [s.path for s in sinks if s.path]
            run_stream_once(
                spark,
                args.source,
                sink_paths or args.sink,
                args.checkpoint,
                sinks=sinks,
                registry=registry,
                metrics_jsonl=args.metrics,
                dedup=not args.no_dedup,
                watermark=args.watermark,
                max_files_per_trigger=args.max_files_per_trigger,
                source_format=args.source_format,
            )
            drained = [s.target for s in sinks]
            print(f"stream drained -> {drained} (resume via {args.checkpoint})")
            if args.orphan_sink:
                from .streaming.pipeline import run_orphan_alerts_once

                run_orphan_alerts_once(
                    spark,
                    args.source,
                    args.orphan_sink,
                    args.checkpoint + "_orphans",
                    horizon_seconds=args.orphan_horizon,
                    watermark=args.watermark,
                    max_files_per_trigger=args.max_files_per_trigger,
                    source_format=args.source_format,
                )
                print(f"orphan alerts -> {args.orphan_sink}")
    finally:
        if previous is None:
            spark.stop()
        else:  # hand a caller-provided session back as it was
            _restore(spark, previous)
    return 0


if __name__ == "__main__":
    sys.exit(main())
