"""``operators/similarity.py`` defines each piece of vector math once:
one pinned-Lloyd trainer (k-means is PQ with one subspace), one
rounded squared distance, one IVF probe and one exact re-rank. Also:
the IVF warehouse root is private to each process."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
from pathlib import Path

from test_pq import SF_DIR

from amazon_textract_enhancer_spark.operators import similarity as S

REPO = Path(__file__).resolve().parents[1]
SOURCE = REPO / "amazon_textract_enhancer_spark" / "operators" / "similarity.py"


def test_similarity_defines_each_kernel_once():
    src = SOURCE.read_text()
    assert "_lloyd_centroids" not in src
    assert src.count("(a - b) * (a - b)") == 1
    lloyd_loops = [
        n for n in ast.walk(ast.parse(src))
        if isinstance(n, ast.For) and any(
            isinstance(c, ast.Call) and isinstance(c.func, ast.Name)
            and c.func.id == "materialize"
            for c in ast.walk(n)
        )
    ]
    assert len(lloyd_loops) == 1, [n.lineno for n in lloyd_loops]


def test_full_shortlist_ivf_pq_search_equals_ivf_search(spark, tmp_path):
    """A shortlist that covers every probed vector leaves ADC nothing
    to drop, so IVF-PQ search is the exact re-rank of the probed
    buckets: row for row what ``ivf_search`` returns."""
    wh = str(tmp_path / "ivf-pq")
    emb = S._emb_double(spark, SF_DIR)
    S.ivf_pq_build_index(spark, emb, wh)
    n = emb.count()
    for nprobe in (2, 6, 8):
        want = [tuple(r) for r in S.ivf_search(spark, wh, nprobe=nprobe).collect()]
        got = [tuple(r) for r in S.ivf_pq_search(
            spark, wh, nprobe=nprobe, shortlist=n).collect()]
        assert got == want, nprobe
        assert len(got) == S.TOP_K


def test_ivf_warehouse_is_private_to_each_process():
    mine = S.ivf_warehouse_for(SF_DIR)
    assert S.ivf_warehouse_for(SF_DIR) == mine
    code = (
        "from amazon_textract_enhancer_spark.operators.similarity import "
        f"ivf_warehouse_for; print(ivf_warehouse_for({SF_DIR!r}))"
    )
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [str(REPO)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    ))
    other = subprocess.run(
        [sys.executable, "-c", code], env=env, check=True,
        capture_output=True, text=True,
    ).stdout.strip()
    assert other and other != mine
    assert os.path.basename(other) == os.path.basename(mine)
    # the other process removed its root at exit
    assert not os.path.exists(os.path.dirname(other))
