"""The ANN index (operators/similarity.py ann_topk) reproduces, row for row,
the ten entry points it replaced.

Each case pins the schema and row digest that the former entry point
produced at sf0.001 (queries: every vector with ``vec_id % 37 == 0``), and
builds the same index through ``ann_topk`` — or, for SemDeDup, through
``semantic_dedup``, whose cells are the index's coarse quantizer. The old
call is named in each case's comment; the sign-LSH cases name the old
function's family and arguments (MIGRATION.md "Sign-LSH" maps the names).
"""

from __future__ import annotations

import hashlib
import json

import pytest
from pyspark.sql import functions as F

_SF = "/root/testdata/sf0.001"
_TOPK = "struct<query_id:bigint,vec_id:bigint,{}:double,rank:int>"
_SEMDEDUP = "struct<vec_id:bigint,cell:bigint,kept:boolean,dup_of:bigint,cosine:double>"

#: case -> (ann_topk keyword arguments, schema, row digest of the old call)
_PINNED = {
    # ivf_topk_deterministic(k=5, n_cells=8, n_probe=2, rank_round=4)
    "ivf_flat": (
        dict(codec="none", n_cells=8, n_probe=2, rank_round=4),
        _TOPK.format("cosine"), "6be73a1b43493e2e",
    ),
    # ivf_topk_deterministic(k=5, n_cells=64, n_probe=4, rank_round=4, assign_levels=2)
    "ivf_two_level": (
        dict(codec="none", n_cells=64, n_probe=4, rank_round=4, assign_levels=2),
        _TOPK.format("cosine"), "06d7438a5513e591",
    ),
    # pq_topk_deterministic(k=5, m=4, n_codes=8)
    "pq_adc": (
        dict(codec="pq", m=4, n_codes=8, rank_round=6),
        _TOPK.format("adc_dist"), "89f2d2c3609cbd05",
    ),
    # pq_topk_deterministic(k=5, m=4, n_codes=8, rerank=50)
    "pq_rerank": (
        dict(codec="pq", m=4, n_codes=8, rank_round=6, rerank=50),
        _TOPK.format("cosine"), "a9dfe15d15a1cc93",
    ),
    # ivfadc_topk(k=5, n_cells=8, n_probe=2, m=4, n_codes=8, rerank=None)
    "ivfadc_adc": (
        dict(codec="pq", n_cells=8, n_probe=2, m=4, n_codes=8, rank_round=6),
        _TOPK.format("adc_dist"), "da6cb627191b35a4",
    ),
    # ivfadc_topk(k=5, n_cells=8, n_probe=2, m=4, n_codes=8, rerank=50)
    "ivfadc_assign1": (
        dict(codec="pq", n_cells=8, n_probe=2, m=4, n_codes=8, rank_round=6, rerank=50),
        _TOPK.format("cosine"), "42e0616e5bffb91b",
    ),
    # ivfadc_topk(..., rerank=50, n_assign=2)
    "ivfadc_assign2": (
        dict(codec="pq", n_cells=8, n_probe=2, n_assign=2, m=4, n_codes=8, rank_round=6, rerank=50),
        _TOPK.format("cosine"), "49c40fd4ce1781b8",
    ),
    # ivfsq_topk_deterministic(k=5, n_cells=8, n_probe=2, rerank=50)
    "ivfsq": (
        dict(codec="sq8", n_cells=8, n_probe=2, rerank=50),
        _TOPK.format("cosine"), "8d4b15c31a4e672e",
    ),
    # bucketed sign-LSH (k=5, n_bits=4, rank_round=4)
    "lsh_bucketed_4": (
        dict(n_bits=4, rank_round=4),
        _TOPK.format("cosine"), "782780f49f778230",
    ),
    # bucketed sign-LSH (k=5, n_bits=8)
    "lsh_bucketed_8": (
        dict(n_bits=8),
        _TOPK.format("cosine"), "6c2d4df70dc153bb",
    ),
    # multi-probe sign-LSH (k=5, n_bits=4, rank_round=4)
    "lsh_multiprobe": (
        dict(n_bits=4, multiprobe=True, rank_round=4),
        _TOPK.format("cosine"), "76fe3abdce11df25",
    ),
    # multi-table sign-LSH at its defaults (k=5, n_bits=4, rank_round=4): 4 tables, multiprobe
    "lsh_multitable": (
        dict(n_bits=4, n_tables=4, multiprobe=True, rank_round=4),
        _TOPK.format("cosine"), "ae08389cedde91fb",
    ),
    # multi-table sign-LSH (k=5, n_bits=4, n_tables=6, multiprobe=False, rank_round=4)
    "lsh_multitable_6": (
        dict(n_bits=4, n_tables=6, rank_round=4),
        _TOPK.format("cosine"), "884824fa13c498b3",
    ),
}

#: assign_levels -> row digest of semantic_dedup(n_cells=8, threshold=0.8)
#: before its cells moved onto the index's coarse quantizer.
_SEMDEDUP_PINNED = {1: "d606254c3578634f", 2: "d901bcf9c2108754"}


def _digest(df) -> str:
    from instructionspipe_spark.session import release_persisted

    rows = sorted(json.dumps(r.asDict(recursive=True), sort_keys=True) for r in df.collect())
    release_persisted()
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{_SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


@pytest.mark.parametrize("case", sorted(_PINNED))
def test_ann_topk_matches_pinned_rows(emb, queries, case):
    from instructionspipe_spark.operators.similarity import ann_topk

    kwargs, schema, digest = _PINNED[case]
    out = ann_topk(emb, queries, k=5, **kwargs)
    assert out.schema.simpleString() == schema
    assert _digest(out) == digest


def test_pq_codes_store_matches_pinned_rows(spark, emb, queries, tmp_path):
    """The persisted-codes path — codebook and codes written to parquet and
    read back — reproduces the old pq_topk_deterministic(rerank=40,
    codebook=..., codes_store=...) rows, and the codebook and codes
    themselves are unchanged."""
    from instructionspipe_spark.operators.similarity import (
        ann_topk,
        pq_codebook_deterministic,
        pq_encode,
    )

    pq_codebook_deterministic(emb, m=4, n_codes=8).write.parquet(str(tmp_path / "cb"))
    cb = spark.read.parquet(str(tmp_path / "cb"))
    assert _digest(cb) == "173eff6a91319712"
    pq_encode(emb, cb, m=4).write.parquet(str(tmp_path / "codes"))
    codes = spark.read.parquet(str(tmp_path / "codes"))
    assert _digest(codes) == "092047e83fa8c3f7"
    out = ann_topk(
        emb, queries, k=5, codec="pq", m=4, n_codes=8, rank_round=6, rerank=40,
        codebook=cb, codes_store=codes,
    )
    assert _digest(out) == "1a1d6f78a100f251"


@pytest.mark.parametrize("levels", sorted(_SEMDEDUP_PINNED))
def test_semantic_dedup_matches_pinned_rows(emb, levels):
    from instructionspipe_spark.operators.dedup import semantic_dedup

    out = semantic_dedup(
        emb, "vec_id", "embedding", n_cells=8, threshold=0.8, assign_levels=levels
    )
    assert out.schema.simpleString() == _SEMDEDUP
    assert _digest(out) == _SEMDEDUP_PINNED[levels]


def test_ann_topk_rejects_mismatched_parts(emb, queries):
    """Parameters that belong to another codec fail at build time instead of
    being silently ignored."""
    from instructionspipe_spark.operators.similarity import ann_topk

    with pytest.raises(ValueError, match="codec must be one of"):
        ann_topk(emb, queries, k=5, codec="opq")
    with pytest.raises(ValueError, match="already ranks exact cosines"):
        ann_topk(emb, queries, k=5, codec="none", n_cells=8, rerank=50)
    with pytest.raises(ValueError, match="needs rerank"):
        ann_topk(emb, queries, k=5, codec="sq8", n_cells=8)
    with pytest.raises(ValueError, match="belong to codec='pq'"):
        ann_topk(emb, queries, k=5, codec="sq8", n_cells=8, rerank=50, codebook=emb)
    with pytest.raises(ValueError, match="requires the codebook"):
        ann_topk(emb, queries, k=5, codec="pq", codes_store=emb)
    with pytest.raises(ValueError, match="assign_levels"):
        ann_topk(emb, queries, k=5, codec="none", n_cells=8, assign_levels=3)
    for centroid_part in (dict(n_cells=8), dict(trained=True), dict(n_assign=2), dict(assign_levels=1)):
        with pytest.raises(ValueError, match="sign-LSH quantizer; n_cells"):
            ann_topk(emb, queries, k=5, n_bits=4, **centroid_part)
    for lsh_part in (dict(n_tables=4), dict(multiprobe=True)):
        with pytest.raises(ValueError, match="belong to the sign-LSH quantizer"):
            ann_topk(emb, queries, k=5, n_cells=8, **lsh_part)


def test_sign_lsh_cells_feed_every_codec(emb, queries):
    """The sign-LSH cells are the candidates of every codec: reranking all
    of them reproduces the exact-cosine codec's ranking."""
    from instructionspipe_spark.operators.similarity import ann_topk
    from instructionspipe_spark.session import release_persisted

    def ranked(df):
        return sorted((r["query_id"], r["vec_id"], r["rank"]) for r in df.collect())

    lsh = dict(n_bits=4, n_tables=3, multiprobe=True)
    exact = ranked(ann_topk(emb, queries, k=5, rank_round=4, **lsh))
    for codec in ("pq", "sq8"):
        out = ann_topk(emb, queries, k=5, codec=codec, rerank=10_000, **lsh)
        assert ranked(out) == exact, codec
        release_persisted()


def test_sign_lsh_rejects_impossible_sizes(emb, queries):
    """n_bits=0 would hash with hyperplanes 0 and -1 (F.sequence counts
    down), and zero tables probe nothing: both fail at build time."""
    from instructionspipe_spark.operators.similarity import ann_topk, hyperplane_sign_bits

    with pytest.raises(ValueError, match="n_bits must be >= 1"):
        hyperplane_sign_bits(F.col("embedding"), n_bits=0)
    with pytest.raises(ValueError, match="n_bits must be >= 1"):
        ann_topk(emb, queries, k=5, n_bits=0)
    with pytest.raises(ValueError, match="n_tables must be >= 1"):
        ann_topk(emb, queries, k=5, n_bits=4, n_tables=0)


def test_trained_pq_codebook_ignores_local_repartition(emb, queries, monkeypatch):
    """The trained PQ codebook fits on the corpus as it arrives, so the
    repartition to the local core count cannot change the result."""
    from instructionspipe_spark import session
    from instructionspipe_spark.operators.similarity import ann_topk

    digests = set()
    for n in (2, 7):
        monkeypatch.setattr(
            session, "ensure_parallelism", lambda df, min_partitions=None: df.repartition(n)
        )
        out = ann_topk(emb, queries, k=5, codec="pq", m=4, n_codes=8, trained=True, rank_round=6)
        digests.add(_digest(out))
    assert len(digests) == 1
