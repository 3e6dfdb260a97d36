"""spark-submit entrypoint — full KG-construction pipeline (lifecycle C).

Usage:
  spark-submit [--py-files mxsparkg.zip] jobs/pipeline.py \
      --pages <pages table> --entity-dict <dict table> \
      --aliases <alias clusters table> --checkpoint <dir> [--out <dir>]

Resumable: re-running with the same --checkpoint skips completed stages
(north_rule). Prints a one-line JSON summary on success; its row counts
and per-stage walls (`stage_walls`, seconds) are read from the stage
manifests, so after a resume they are those of the committing run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from mxsparkg.catalog import Checkpointer, write_table  # noqa: E402
from mxsparkg.pipeline import (  # noqa: E402
    DEFAULT_CHECKPOINT_STAGES,
    run_pipeline,
    triples_for_eval,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--pages-format", default="parquet",
                    choices=["parquet", "iceberg", "warc"],
                    help="warc: --pages is a dir/glob of .warc/.warc.gz "
                         "crawl files (raw Common-Crawl-style ingest)")
    ap.add_argument("--entity-dict", required=True)
    ap.add_argument("--aliases", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--out", default=None, help="write nodes/edges/triples here")
    ap.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    ap.add_argument(
        "--rules",
        default=None,
        help="mined rules.parquet from jobs/train.py (default: built-in model)",
    )
    ap.add_argument(
        "--pred-patterns",
        default=None,
        help="mined pred_patterns.parquet from jobs/train.py "
             "--seed-relations (default: built-in hand list)",
    )
    ap.add_argument("--gold", default=None,
                    help="gold triples parquet: report P/R/F1 inline "
                         "(north_rule threshold 0.95)")
    ap.add_argument("--incremental", action="store_true",
                    help="delta ingest: detect only urls missing from the "
                         "existing detect checkpoint, append, recompute "
                         "derived tables")
    ap.add_argument("--langs", default=None,
                    help="comma-separated language allowlist (P2 filter, "
                         "pushed into the scan)")
    ap.add_argument("--light-summary", action="store_true",
                    help="skip the distinct-triples scan (triples_distinct "
                         "reports -1)")
    ap.add_argument("--fold-triples", action="store_true",
                    help="don't materialize the canonical-triples table: "
                         "the edges rollup consumes the detect checkpoint "
                         "through one fused job (link+rewrite+rollup), "
                         "cutting a full write+read of the largest "
                         "intermediate; resume granularity falls back to "
                         "the detect checkpoint")
    ap.add_argument("--export-ntriples", default=None, metavar="DIR",
                    help="also serialize the edges table as RDF N-Triples "
                         "text shards into DIR (for triple-store ingest)")
    ap.add_argument("--reliable-checkpoint", default=None, metavar="DIR",
                    help="durable-storage dir for connected-components "
                         "per-round checkpoints (cluster-safe mode: survives "
                         "executor loss; default localCheckpoint)")
    args = ap.parse_args()

    ck_stages = DEFAULT_CHECKPOINT_STAGES
    if args.fold_triples:
        ck_stages = tuple(s for s in ck_stages if s != "triples")

    spark = SparkSession.builder.appName("mxsparkg-pipeline").getOrCreate()
    t0 = time.time()
    rules = None
    if args.rules:
        from mxsparkg.mining import rules_to_model

        rules = rules_to_model(spark.read.parquet(args.rules))
    pred_patterns = None
    if args.pred_patterns:
        from mxsparkg.mining import pred_patterns_to_model

        pred_patterns = pred_patterns_to_model(
            spark.read.parquet(args.pred_patterns))
    res = run_pipeline(
        spark,
        args.pages,
        args.entity_dict,
        args.aliases,
        args.checkpoint,
        rules=rules,
        pred_patterns=pred_patterns,
        langs=args.langs.split(",") if args.langs else None,
        incremental=args.incremental,
        reliable_checkpoint_dir=args.reliable_checkpoint,
        checkpoint_stages=ck_stages,
        pages_format=args.pages_format,
    )
    # one record per committed stage: counts and walls come from the
    # manifests (the row counts rode on each stage's write job), so the
    # summary launches no count jobs. On a resumed run the walls are those
    # of the run that committed each stage.
    ck = Checkpointer(spark, args.checkpoint)
    manifests = {s: ck.manifest(s) for s in ck_stages}
    if args.fold_triples:
        # no triples checkpoint — but the edges rollup counts every
        # canonical triple exactly once in n_support, so its sum IS
        # the triples row count (tiny pyarrow read, no Spark job)
        import pyarrow.compute as pc
        import pyarrow.dataset as pds

        n_total = pc.sum(
            pds.dataset(
                os.path.join(args.checkpoint, "edges"), format="parquet"
            ).to_table(columns=["n_support"]).column("n_support")
        ).as_py()
    else:
        n_total = manifests["triples"]["rows"]
    n_triples = (
        -1 if args.light_summary  # distinct scan skipped in light mode
        else triples_for_eval(res["triples"]).count()
    )
    if args.export_ntriples:
        from mxsparkg.kgexport import export_edges_ntriples

        export_edges_ntriples(res["edges"]).select("line").write.mode(
            "overwrite").text(args.export_ntriples)
    if args.out:
        write_table(res["nodes"], os.path.join(args.out, "nodes"), args.format)
        write_table(res["edges"], os.path.join(args.out, "edges"), args.format)
        write_table(res["triples"], os.path.join(args.out, "triples"), args.format)
    wall = time.time() - t0
    eval_block = {}
    if args.gold:
        pred = triples_for_eval(res["triples"])
        gold = spark.read.parquet(args.gold).select(
            "subj", "pred", "obj", "url").distinct()
        n_pred, n_gold = pred.count(), gold.count()
        tp = pred.intersect(gold).count()
        p = tp / n_pred if n_pred else 0.0
        r = tp / n_gold if n_gold else 0.0
        eval_block = {
            "precision": round(p, 4),
            "recall": round(r, 4),
            "f1": round(2 * p * r / (p + r), 4) if p + r else 0.0,
            "meets_north_rule": p >= 0.95 and r >= 0.95,
        }
    print(json.dumps({
        **eval_block,
        "triples_distinct": n_triples,
        "triples_total": n_total,
        "nodes": manifests["nodes"]["rows"],
        "edges": manifests["edges"]["rows"],
        "wall_sec": round(wall, 2),
        "triples_per_sec": round(n_total / wall, 1),
        "stage_walls": {
            s: round(m["wall_ms"] / 1000.0, 2) for s, m in manifests.items()
        },
    }))
    spark.stop()


if __name__ == "__main__":
    main()
