"""Runnable app entry points — the reference ships four ``main()``
programs (OdsBaseLogApp, OdsBaseDbApp, DwdDauApp, DwdOrderApp); this
module is their drop-in launcher surface over the same pipelines the
tests drive:

    python -m sparkstreaming_realtime_project_spark dau \
        --input ./in --out ./dau --checkpoint ./ck \
        --dim-user user.parquet --dim-province prov.parquet [--follow]

    python -m sparkstreaming_realtime_project_spark log-split ...
    python -m sparkstreaming_realtime_project_spark cdc \
        --fact-tables order_info,order_detail --dim-tables user_info ...
    python -m sparkstreaming_realtime_project_spark order-wide \
        --input-info ./in_info --input-detail ./in_detail ...

Inputs are line-JSON directories (the Kafka-replay file source —
swap ``sources.streams.kafka_stream`` in where a broker exists; the
pipeline code is identical). Default trigger is ``availableNow`` (drain
and exit); ``--follow`` keeps a 5 s micro-batch running, the
reference's cadence (OdsBaseLogApp.scala:35).
"""

from __future__ import annotations

import argparse
import logging
import sys

from .schemas import ORDER_DETAIL_SCHEMA, ORDER_INFO_SCHEMA
from .session import get_spark
from .sources.streams import file_stream, text_stream
from .streaming.pipelines import (
    cdc_route_pipeline,
    dau_pipeline,
    log_split_pipeline,
    order_wide_pipeline,
)


def _start(writer, follow: bool, timeout: float | None = None):
    if follow:
        q = writer.trigger(processingTime="5 seconds").start()
        q.awaitTermination()
    else:
        # drain-and-exit: wait as long as the replay takes (a large input
        # directory is a legitimately long batch, not a failure). An
        # explicit --timeout bounds the wait; on expiry the query is
        # stopped cleanly before reporting failure.
        q = writer.trigger(availableNow=True).start()
        if timeout is None:
            q.awaitTermination()
            sys.exit(0)
        ok = q.awaitTermination(timeout)
        if not ok:
            q.stop()
        sys.exit(0 if ok else 1)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="sparkstreaming_realtime_project_spark")
    sub = ap.add_subparsers(dest="app", required=True)

    def common(p):
        p.add_argument("--out", required=True)
        p.add_argument("--checkpoint", required=True)
        p.add_argument("--follow", action="store_true")
        p.add_argument(
            "--timeout",
            type=float,
            default=None,
            help="max seconds for the availableNow drain (default: unbounded)",
        )

    p = sub.add_parser("dau", help="behavior log -> daily-active-user table")
    p.add_argument("--input", required=True)
    # DwdDauApp always enriches (J1/J2) — dims are not optional there
    p.add_argument("--dim-user", required=True)
    p.add_argument("--dim-province", required=True)
    common(p)

    p = sub.add_parser("log-split", help="behavior log -> 5 routed outputs")
    p.add_argument("--input", required=True)
    common(p)

    p = sub.add_parser("cdc", help="Maxwell CDC -> fact routes + dim upserts")
    p.add_argument("--input", required=True)
    p.add_argument("--fact-tables", required=True, help="comma-separated")
    p.add_argument("--dim-tables", required=True, help="comma-separated")
    common(p)

    p = sub.add_parser("order-wide", help="order info x detail wide table")
    p.add_argument("--input-info", required=True)
    p.add_argument("--input-detail", required=True)
    p.add_argument("--dim-user")
    p.add_argument("--dim-province")
    p.add_argument(
        "--left-outer",
        action="store_true",
        help="detail-preserving join: emit null-padded details whose "
        "info never arrives within the grace window",
    )
    p.add_argument(
        "--full-outer",
        action="store_true",
        help="both-side-preserving join: additionally emit null-padded "
        "infos whose details never arrive (reconciliation view)",
    )
    common(p)

    # batch catalog runner: any registered analytic query by name over a
    # testdata-shaped directory — the ad-hoc surface complementing the
    # four streaming apps (run `query --list` for the full inventory)
    p = sub.add_parser("query", help="run a catalog query by name")
    p.add_argument("name", nargs="?", help="catalog entry name")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("--out", help="parquet output dir (default: show)")
    p.add_argument("--limit", type=int, default=20, help="rows to show")
    p.add_argument("--list", action="store_true", help="list entries")
    p.add_argument("--explain", action="store_true", help="print the plan")

    # sink maintenance: fold a pipeline's batch dirs into one committed
    # generation (the OPTIMIZE a table format runs natively); the commit
    # is a single atomic manifest rename, snapshots retained for time
    # travel per --retain
    p = sub.add_parser("compact", help="compact a sink dir (manifest commit)")
    p.add_argument("--dir", required=True, help="sink directory")
    p.add_argument(
        "--keys", required=True, help="comma-separated upsert key columns"
    )
    p.add_argument("--partition-col", default="dt")
    p.add_argument(
        "--order-col", help="cross-batch winner order column (default: batch)"
    )
    p.add_argument(
        "--retain", type=int, default=1,
        help="committed generations kept readable for time travel",
    )

    p = sub.add_parser(
        "compact-store",
        help="fold a streaming STORE's batch dirs (anchor/signature "
        "stores into their bucketed at-rest tables; sketch stores into "
        "one committed generation). Run with the stream stopped, or only past "
        "the checkpoint's commit horizon.",
    )
    p.add_argument("--dir", required=True, help="store directory")
    p.add_argument(
        "--kind", required=True,
        choices=["suffix", "minhash", "hll", "cms", "mg", "agg",
                 "moments", "ivf"],
    )
    p.add_argument(
        "--buckets", type=int, default=8,
        help="bucket count for suffix/minhash generations",
    )
    p.add_argument(
        "--fanout", type=int,
        help="suffix/minhash only: leveled (size-tiered) compaction — "
        "fold ONLY the tail into a new generation, merging generations "
        "when FANOUT share a size tier. O(tail) per run instead of "
        "O(store); use for sub-hour cadences. Omit for the full fold "
        "(also the major compaction collapsing a leveled store)",
    )
    p.add_argument(
        "--keys",
        help="comma-separated columns: agg key cols (required), hll "
        "group cols (optional)",
    )
    p.add_argument(
        "--m", type=int, default=64,
        help="Misra-Gries summary size; must match the writer's m",
    )

    # the reference's publisher is a separate Spring Boot app beside the
    # Spark jobs (PublisherApplication.java); same topology here — a
    # sidecar serving the sink tables the pipelines write
    p = sub.add_parser("publisher", help="REST façade over the sink tables")
    p.add_argument("--dau-table", required=True, help="dau sink dir")
    p.add_argument("--wide-table", required=True, help="order-wide sink dir")
    p.add_argument("--host", default="127.0.0.1")
    p.add_argument("--port", type=int, default=8070)

    args = ap.parse_args(argv)

    if args.app == "query":
        from .plans import catalog

        specs = {s.name: s for s in catalog.registry()}
        if args.list or not args.name:
            for n in sorted(specs):
                print(n)
            return
        if args.name not in specs:
            sys.exit(f"unknown query {args.name!r} (try --list)")
        from .operators.caching import cache_scope

        spark = get_spark(app_name=f"query-{args.name}")
        spark.sparkContext.setLogLevel("WARN")
        # the scope owns the caches the plan's builders cut and releases
        # them after the consuming action
        with cache_scope():
            df = specs[args.name].spark(spark, args.sf_dir)
            if args.explain:
                df.explain("formatted")
            if args.out:
                df.write.mode("overwrite").parquet(args.out)
                print(f"wrote {args.out}")
            else:
                df.show(args.limit, truncate=False)
        return

    spark = get_spark(app_name=f"app-{args.app}")

    def dim(path):
        return spark.read.parquet(path) if path else None

    if args.app == "compact-store":
        from .streaming import incremental as inc

        keys = (
            [k.strip() for k in args.keys.split(",") if k.strip()]
            if args.keys else []
        )
        if args.fanout is not None and args.kind not in ("suffix", "minhash"):
            sys.exit(
                f"--fanout is only supported for --kind suffix/minhash; "
                f"the {args.kind} store folds into one merged generation (its "
                f"merge is a cheap cell-wise/per-key reduction, not a "
                f"store re-write — there is no leveled mode to select)"
            )
        if args.kind == "suffix":
            out = inc.compact_suffix_store(
                spark, args.dir, args.buckets, fanout=args.fanout
            )
        elif args.kind == "minhash":
            out = inc.compact_minhash_store(
                spark, args.dir, args.buckets, fanout=args.fanout
            )
        elif args.kind == "hll":
            out = inc.compact_hll_store(spark, args.dir, keys)
        elif args.kind == "cms":
            out = inc.compact_cms_store(spark, args.dir)
        elif args.kind == "mg":
            out = inc.compact_mg_store(spark, args.dir, m=args.m)
        elif args.kind == "agg":
            if not keys:
                sys.exit("--keys is required for --kind agg")
            out = inc.compact_agg_store(spark, args.dir, keys)
        elif args.kind == "moments":
            out = inc.compact_moment_store(spark, args.dir)
        else:
            out = inc.compact_ivf_store(spark, args.dir)
        print(f"compacted: {out}")
        raise SystemExit(0)

    if args.app == "compact":
        from .streaming.sinks import compact_sink, read_sink

        compact_sink(
            spark,
            args.dir,
            [k.strip() for k in args.keys.split(",") if k.strip()],
            partition_col=args.partition_col,
            order_col=args.order_col,
            retain_generations=args.retain,
        )
        print(f"compacted: {read_sink(spark, args.dir).count()} rows live")
        raise SystemExit(0)

    if args.app == "publisher":
        from .http_api import publisher_server, sink_providers

        # providers read per request: each query sees the pipelines'
        # latest committed files, like the reference hitting live ES;
        # read_sink re-lists a sink only when a commit changed it, and
        # the server keeps per-date slices of each snapshot in memory
        server = publisher_server(
            *sink_providers(spark, args.dau_table, args.wide_table),
            host=args.host,
            port=args.port,
        )
        print(f"publisher listening on {server.server_address}", flush=True)
        logging.basicConfig()  # stderr; the request log lines at INFO
        logging.getLogger(publisher_server.__module__).setLevel(logging.INFO)
        try:
            server.serve_forever()
        finally:
            server.server_close()
        return

    if args.app == "dau":
        writer = dau_pipeline(
            text_stream(spark, args.input),
            dim(args.dim_user),
            dim(args.dim_province),
            args.out,
            args.checkpoint,
        )
    elif args.app == "log-split":
        writer = log_split_pipeline(
            text_stream(spark, args.input), args.out, args.checkpoint
        )
    elif args.app == "cdc":
        writer = cdc_route_pipeline(
            text_stream(spark, args.input),
            [t.strip() for t in args.fact_tables.split(",") if t.strip()],
            [t.strip() for t in args.dim_tables.split(",") if t.strip()],
            args.out,
            args.checkpoint,
        )
    else:
        # order_wide_pipeline expects PARSED order columns (no internal
        # parse step, unlike the other three apps) — shred the line-JSON
        # here with the bean schemas
        writer = order_wide_pipeline(
            file_stream(spark, args.input_info, ORDER_INFO_SCHEMA),
            file_stream(spark, args.input_detail, ORDER_DETAIL_SCHEMA),
            args.out,
            args.checkpoint,
            dim_user=dim(args.dim_user),
            dim_province=dim(args.dim_province),
            join_type=(
                "full_outer"
                if args.full_outer
                else "left_outer" if args.left_outer else "inner"
            ),
        )
    _start(writer, args.follow, timeout=args.timeout)


if __name__ == "__main__":
    main()
