"""Centroid-probe scaling at production cell counts + the PQ-vs-raw
candidate-scoring comparison (r12, the r9 verdict's stretch item).

Two measurements back SCALE.md's serving-tier recommendation:

1. PROBE SWEEP — the map-side array probe (`centroid_probe_column`) at
   n_cells 1024 AND 4096 over 20k dim-64 vectors (extends the round-9
   addendum's 8/128/1024 sweep one production octave): assignment work
   is the honest |rows| x n_cells cosine product, so the 4096 point
   should land ~4x the 1024 point — confirming the cost model SCALE.md
   extrapolates from, with no superlinear surprise from plan size
   (the array carrier keeps Catalyst cost independent of n_cells).

2. ADC VS RAW — the same candidate set (every probe-1 cell join at
   target_cell=2000) scored two ways: exact float cosine against raw
   dim-64 vectors vs integer ADC against n_sub=4 PQ codes. This is the
   per-candidate cost ratio that, together with the ~128x candidate
   byte shrink, makes IVF-PQ the default 100 TB serving tier.

Usage: python scripts/stress_centroid_probe.py [n_vecs] [n_index] [n_queries]
Writes artifacts/stress_centroid_probe_r12.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from prosnet_prefect_pipelines_spark.operators import similarity as S  # noqa: E402
from prosnet_prefect_pipelines_spark.session import (  # noqa: E402
    get_spark,
    pin,
    sweep_persistent_rdds,
)
from stress_ann import vectors  # noqa: E402

DIM = 64


def main() -> None:
    n_vecs = int(float(sys.argv[1])) if len(sys.argv) > 1 else 20_000
    n_index = int(float(sys.argv[2])) if len(sys.argv) > 2 else 100_000
    n_queries = int(float(sys.argv[3])) if len(sys.argv) > 3 else 5_000
    spark = get_spark("stress_centroid_probe")
    spark.range(1).count()
    out: dict = {"dim": DIM}

    # --- 1. probe sweep at 1024 / 4096 cells --------------------------------
    vecs = vectors(spark, n_vecs, DIM).select(
        "id", F.col("v").alias("embedding")
    )
    probe_rows = {}
    for n_cells in (1024, 4096):
        cents = vecs.limit(n_cells).select(
            F.col("id").alias("cid"),
            F.col("embedding").alias("cv"),
            S.norm(F.col("embedding")).alias("ncv"),
        )
        ck = pin(cents)
        carr = S.centroid_array(ck)
        times = []
        for _ in range(2):
            sweep_persistent_rdds(spark)
            t0 = time.time()
            n = (
                vecs.crossJoin(F.broadcast(carr))
                .select(
                    F.explode(
                        S.centroid_probe_column(
                            F.col("_cents"),
                            F.col("embedding"),
                            S.norm(F.col("embedding")),
                            nprobe=1,
                        )
                    ).alias("_p")
                )
                .count()
            )
            times.append(round(time.time() - t0, 3))
        probe_rows[str(n_cells)] = {"times_s": times, "assigned": n}
        print(f"# probe n_cells={n_cells}: {times}", file=sys.stderr)
    out["probe_sweep"] = {
        "n_vecs": n_vecs,
        "cells": probe_rows,
        "ratio_4096_over_1024": round(
            min(probe_rows["4096"]["times_s"])
            / min(probe_rows["1024"]["times_s"]),
            2,
        ),
    }

    # --- 2. ADC vs raw candidate scoring ------------------------------------
    idx = vectors(spark, n_index, DIM).select(
        "id", F.col("v").alias("embedding")
    )
    n_cells = max(8, n_index // 2000)
    xcodes, _assign, cbs = S.pq_index(
        idx, "id", "embedding", DIM, n_sub=4, n_cells_coarse=n_cells
    )
    cbarr = pin(S.pq_codebook_array(cbs))
    raw_db = (
        S.ivf_assign(idx, "id", "embedding", n_cells=n_cells, rank_limit=1)
        .select(F.col("id").alias("neighbor"), "v", "nv", "cell")
    )
    raw_db = pin(raw_db)
    code_db = pin(xcodes)  # (xid, cell, _xp, _xn2)
    queries = (
        vectors(spark, n_queries, DIM)
        .select(
            (F.col("id") + 50_000_000).alias("qid"),
            F.col("v").alias("qv"),
        )
    )
    queries = pin(queries)
    cents2 = (
        idx.limit(n_cells)
        .select(
            F.col("id").alias("cid"),
            F.col("embedding").alias("cv"),
            S.norm(F.col("embedding")).alias("ncv"),
        )
    )
    cents2 = pin(cents2)
    carr = S.centroid_array(cents2)
    probed = (
        queries.crossJoin(F.broadcast(carr))
        .select(
            "qid",
            "qv",
            S.norm(F.col("qv")).alias("qn"),
            F.explode(
                S.centroid_probe_column(
                    F.col("_cents"), F.col("qv"), S.norm(F.col("qv")), nprobe=1
                )
            ).alias("_p"),
        )
        .select("qid", "qv", "qn", F.col("_p.cid").alias("cell"))
    )
    probed = pin(probed)

    def _time(label: str, df_builder) -> dict:
        times, n = [], None
        for _ in range(2):
            sweep_persistent_rdds(spark)
            t0 = time.time()
            n = df_builder().count()
            times.append(round(time.time() - t0, 3))
        print(f"# {label}: {times} ({n} candidates)", file=sys.stderr)
        return {"times_s": times, "candidates": n}

    out["raw_scoring"] = _time(
        "raw cosine",
        lambda: probed.join(raw_db, on="cell").select(
            "qid",
            "neighbor",
            F.round(
                S.dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nv")),
                6,
            ).alias("cos"),
        ).where(F.col("cos").isNotNull()),
    )
    # ADC: the q_pipeline118 LUT shape (r12) — a per-query lookup
    # table built once against the broadcast codebook array, candidates
    # carry codeword POSITIONS only, scoring = n_sub integer reads
    out["adc_scoring"] = _time(
        "ADC (PQ codes, LUT)",
        lambda: probed.crossJoin(F.broadcast(cbarr))
        .select(
            "qid",
            "qn",
            "cell",
            S.pq_query_lut(F.col("qv"), F.col("_cbarr"), DIM, 4).alias(
                "_qlut"
            ),
        )
        .join(code_db, on="cell")
        .select("qid", "xid", S.adc_cos_lut(4).alias("acos"))
        .where(F.col("acos").isNotNull()),
    )
    out["adc_over_raw"] = round(
        min(out["adc_scoring"]["times_s"])
        / min(out["raw_scoring"]["times_s"]),
        2,
    )

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(here, "artifacts", "stress_centroid_probe_r12.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
