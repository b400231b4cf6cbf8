"""ANN recall floors at 4x corpus scale (round-10 verdict item 8).

``tests/test_ann_recall.py`` pins LSH/IVF/PQ recall at fixture scale;
these re-run the evals on a 4x id-offset embeddings corpus so
bucket-occupancy drift at larger N is covered — more vectors per LSH
bucket and per IVF cell is exactly the regime where a too-coarse
(bands, bits) or (cells, probes) choice collapses recall while the
fixture-scale floor stays green.

Synthesis mirrors tools/scale_smoke.py's id-offset rule
(vec_id += i*1e9, the 3 query vectors stay the originals) plus a
small deterministic per-replica perturbation: EXACT copies would tie
every original with its replicas at identical cosine, making "which
copy made top-10" an arbitrary tie-break between the exact and
approximate rankings — the noise (~2% relative, seeded per replica)
breaks ties without moving any vector off its neighborhood.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pytest

import ingest_sharepoint_file_to_fabric_lakehouse_spark as engine
from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import staging_dir

engine.load_all()

SRC = "/root/testdata/sf0.001"
DST = "/tmp/sg_recall4x"
OFF = 10**9
MULT = 4


@pytest.fixture(scope="module")
def sf_dir_4x():
    shutil.rmtree(DST, ignore_errors=True)
    shutil.rmtree(staging_dir(DST, ""), ignore_errors=True)
    os.makedirs(DST, exist_ok=True)
    base = pd.read_parquet(f"{SRC}/embeddings.parquet")
    out = [base]
    for i in range(1, MULT):
        rep = base.copy()
        rep["vec_id"] = rep["vec_id"] + i * OFF
        rng = np.random.default_rng(1000 + i)
        mat = np.stack(rep["embedding"].to_numpy())
        scale = 0.02 * np.abs(mat).mean()
        mat = mat + rng.normal(0.0, scale, size=mat.shape).astype(np.float32)
        rep["embedding"] = list(mat.astype(np.float32))
        out.append(rep)
    pd.concat(out, ignore_index=True).to_parquet(
        f"{DST}/embeddings.parquet", index=False
    )
    yield DST
    shutil.rmtree(DST, ignore_errors=True)
    shutil.rmtree(staging_dir(DST, ""), ignore_errors=True)


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["q_id"], set()).add(r["vec_id"])
    return out


def _mean_recall(exact, approx):
    return sum(
        len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
    ) / len(exact)


def test_lsh_recall_eval_holds_at_4x(spark, sf_dir_4x):
    """The registered recall harness itself, on the 4x corpus: banded
    LSH candidates must still recover most of the exact top-10 when
    every bucket holds ~4x the vectors (measured 0.87 at 4x vs
    0.73-0.77 at fixture scale — denser buckets help recall, at
    candidate-volume cost; the floor pins against collapse)."""
    row = engine.QUERIES["sim_lsh_recall_eval"](spark, sf_dir_4x).first()
    assert row["n_truth"] > 0
    assert row["n_recalled"] / row["n_truth"] >= 0.6, row


def test_ivf_recall_eval_holds_at_4x(spark, sf_dir_4x):
    """IVF probe recall on 4x-occupancy cells: the registered eval's
    recall must stay above the fixture floor (2-of-8 cells probed)."""
    row = engine.QUERIES["sim_ivf_recall_eval"](spark, sf_dir_4x).first()
    assert row["n_exact"] > 0
    assert row["n_hit"] / row["n_exact"] >= 0.2, row


def test_banded_lsh_topk_recall_at_4x(spark, sf_dir_4x):
    """End-to-end sim_topk_lsh vs brute force on the 4x corpus — the
    deployed top-k path, not just the candidate generator."""
    exact = _topk_sets(engine.QUERIES["sim_topk_bruteforce"](spark, sf_dir_4x))
    approx = _topk_sets(engine.QUERIES["sim_topk_lsh"](spark, sf_dir_4x))
    assert _mean_recall(exact, approx) >= 0.6, (exact, approx)


def test_pq_adc_recall_at_4x(spark, sf_dir_4x):
    """PQ-ADC with the exact re-rank of its top-100 shortlist must
    hold recall with 4x the vectors per cell."""
    exact = _topk_sets(engine.QUERIES["sim_topk_bruteforce"](spark, sf_dir_4x))
    approx = _topk_sets(engine.QUERIES["sim_pq_adc_topk"](spark, sf_dir_4x))
    assert _mean_recall(exact, approx) >= 0.5, (exact, approx)
