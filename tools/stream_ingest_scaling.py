"""Per-batch base-size-independence curve for the streaming near-dup
ingest family (r8 verdict, next-round #1's "Done" evidence).

r8's plan re-derived the base corpus's digests/shingles/df/prefixes
inside EVERY foreachBatch epoch — O(base) per micro-batch. The r9 fix
derives them once (``prepare_ingest_base``, persisted + eagerly
filled) and each epoch runs ``ingest_report_against_base`` — delta
shingling plus probe joins against the cached, pre-partitioned base.

This tool measures exactly the claim: a FIXED 625-doc delta (replica
0's ``%8`` cohort, as in ``tools/scale.py ingest_fixed_delta``)
streamed in 4 real micro-batches (maxFilesPerTrigger=1) against bases
of 5k / 50k / 500k docs. Reported per point: one-time base-prep wall,
per-epoch walls (report + write, from ``run_epochs``), and their
median. The fix is proven if prep wall tracks base size while
per-epoch wall does not (probe joins still scan the cached base, so
mild growth is the honest expectation — what must disappear is the
~linear re-derivation term).

Built-in falsifier (as in ``ingest_fixed_delta``): replicas share
neither digests nor shingles with replica 0, so the rejection set must
be byte-identical at every point — drift aborts the run.

Methodology: per point, 1 warmup stream + 1 measured stream (each
stream already yields 4 per-epoch samples; the house median-of-3
applies to the EPOCH walls within the measured stream). ONE committed
run.

Usage: python tools/stream_ingest_scaling.py [--json PATH]
       [--family doc|para]

``--family para`` (r12) runs the PARAGRAPH-grain twin instead
(``prepare_paragraph_base`` + ``paragraph_ingest_report``,
the nineteenth streaming family): same fixed-delta / growing-base
protocol, falsifier = the full per-doc report (counts + removed-index
digests) byte-identical at every point — replicas share no shingles
with the replica-0 delta, so added base paragraphs must never match.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")

BASE = "/root/testdata/sf0.1"
DELTA_DOCS = 625


def main(args: list[str]) -> int:
    json_path = None
    if "--json" in args:
        json_path = args[args.index("--json") + 1]
    family = "doc"
    if "--family" in args:
        family = args[args.index("--family") + 1]

    from pyspark.sql import functions as F

    from bench import _calibrate
    from tools.gen_corpus import generate

    from mapreduce_citation_spark.operators.dedup import (
        _docs,
        ingest_report_against_base,
        paragraph_ingest_report,
        prepare_ingest_base,
        prepare_paragraph_base,
    )

    prepare, per_batch = {
        "doc": (prepare_ingest_base, ingest_report_against_base),
        "para": (prepare_paragraph_base, paragraph_ingest_report),
    }[family]
    from mapreduce_citation_spark.session import get_spark
    from mapreduce_citation_spark.streaming.events import run_epochs

    points = [(BASE, 1)]
    for k in (10, 100):
        out_dir = f"benchdata/docs_x{k}"
        generate(out_dir, k, BASE)
        points.append((out_dir, k))

    spark = get_spark("stream-ingest-scaling")
    spark.sparkContext.setLogLevel("ERROR")

    delta_pred = (F.col("doc_id") < 10000) & (F.col("doc_id") % 8 == 0)

    # stage the FIXED delta once as 4 parquet chunks (4 micro-batches)
    delta_dir = tempfile.mkdtemp(prefix="sis_delta_")
    (
        _docs(spark, BASE)
        .filter(delta_pred)
        .repartitionByRange(4, "doc_id")
        .write.mode("overwrite")
        .parquet(delta_dir)
    )
    schema = spark.read.parquet(delta_dir).schema

    def stream_once(arts) -> tuple[list[float], list[tuple[int, str]]]:
        out = tempfile.mkdtemp(prefix="sis_out_")
        ckpt = tempfile.mkdtemp(prefix="sis_ckpt_")
        epoch_walls = run_epochs(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(delta_dir),
            per_batch, arts, out, ckpt,
        )
        rej_df = spark.read.parquet(out)
        rej = sorted(
            tuple(r)
            for r in rej_df.select(sorted(
                c for c in rej_df.columns if c != "epoch_id"
            )).collect()
        )
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        return epoch_walls, rej

    report: dict = {"family": family, "cal": _calibrate(),
                    "delta_docs": DELTA_DOCS,
                    "n_batches": 4, "points": []}
    base_rejections = None
    for sf_dir, k in points:
        spark.catalog.clearCache()
        base = _docs(spark, sf_dir).filter(
            ~((F.col("doc_id") < 10000) & (F.col("doc_id") % 8 == 0))
        )
        t0 = time.perf_counter()
        arts = prepare(base).materialize()
        prep_sec = time.perf_counter() - t0
        try:
            stream_once(arts)  # warmup stream
            walls, rej = stream_once(arts)
        finally:
            arts.unpersist()
        if k == 1:
            base_rejections = rej
        else:
            assert rej == base_rejections, (
                f"rejection set drifted at {k}x — construction leaked "
                f"({len(rej)} vs {len(base_rejections)} rows)"
            )
        med = sorted(walls)[len(walls) // 2]
        report["points"].append(
            {"base_x": k, "base_rows": 5000 * k - DELTA_DOCS,
             "prep_sec": round(prep_sec, 3),
             "epoch_walls_sec": [round(w, 3) for w in walls],
             "epoch_wall_median_sec": round(med, 3),
             "report_rows" if family == "para" else "rejections":
                 len(rej)}
        )
        print(f"  base {k}x: prep {prep_sec:.2f}s, epoch walls "
              f"{[round(w, 2) for w in walls]} (median {med:.2f}s), "
              f"{len(rej)} rejections", file=sys.stderr)

    report["ratios"] = [
        {"base_x": round(hi["base_x"] / lo["base_x"], 1),
         "prep_x": round(hi["prep_sec"] / lo["prep_sec"], 2),
         "epoch_wall_x": round(
             hi["epoch_wall_median_sec"] / lo["epoch_wall_median_sec"], 2)}
        for lo, hi in zip(report["points"], report["points"][1:])
    ]
    shutil.rmtree(delta_dir, ignore_errors=True)
    print(json.dumps(report, indent=1))
    if json_path:
        with open(json_path, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
