"""The near-duplicate index (operators/dedup.py: fingerprint -> block ->
candidates -> verify -> resolve) reproduces, row for row, what each public
entry point produced before its stages were shared.

Each case pins the schema and row digest of one call on the default test
tables (sf0.001, ``tests/conftest.py``). The corpus/eval and corpus/batch
splits are the registry rows' own: eval rows are the 80% prefixes of
``doc_id % 17 == 0``, the batch is ``doc_id % 10 == 7``. The two
embedding cases run at cosine 0.3, where pairs exist; their registry rows
run at 0.8 and return none.
"""

from __future__ import annotations

import hashlib
import json

import pytest
from pyspark.sql import functions as F

from instructionspipe_spark.operators import dedup as nd
from instructionspipe_spark.operators.graph import near_dup_components

_DOC = "struct<doc_id:bigint,text:string,lang:string,source:string,n_chars:bigint>"
_PAIRS = "struct<id_a:bigint,id_b:bigint>"


def _eval_side(docs):
    return docs.filter(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("eval_id"),
        F.expr("substring(text, 1, (length(text) * 4) div 5)").alias("eval_text"),
    )


def _split(docs):
    return docs.filter(F.col("doc_id") % 10 != 7), docs.filter(F.col("doc_id") % 10 == 7)


def _cross(docs, **kw):
    return nd.cross_corpus_near_dups(
        docs, _eval_side(docs), "doc_id", "text", "eval_id", "eval_text", threshold=0.5, **kw
    )


def _incremental(docs, **kw):
    corpus, batch = _split(docs)
    return nd.incremental_minhash_dedup(corpus, batch, "doc_id", "text", threshold=0.5, **kw)


_XC = "struct<corpus_id:bigint,eval_id:bigint,jaccard:double>"
_INC = "struct<doc_id:bigint,dup_of:bigint,jaccard:double,kept:boolean>"

#: case -> (call on the documents frame, schema, row digest before the change)
_PINNED = {
    "lsh_dedup": (
        lambda d: nd.minhash_lsh_dedup(d, "doc_id", "text"),
        _DOC, "eacaaaffd1112120",
    ),
    "lsh_dedup_threshold": (
        lambda d: nd.minhash_lsh_dedup(d, "doc_id", "text", threshold=0.5),
        _DOC, "90e555bca917ca29",
    ),
    "lsh_dedup_most_dup": (
        lambda d: nd.minhash_lsh_dedup_most_dup(d, "doc_id", "text", most_dup=1),
        _DOC, "f297e23122d1c399",
    ),
    "lsh_candidates": (
        lambda d: nd.minhash_lsh_candidates(d, "doc_id", "text"),
        _PAIRS, "e8fde45dd3c6c836",
    ),
    "cross_corpus_capped": (lambda d: _cross(d), _XC, "8e76ff194487a492"),
    "cross_corpus_uncapped": (lambda d: _cross(d, bucket_cap=None), _XC, "8e76ff194487a492"),
    "incremental_capped": (lambda d: _incremental(d), _INC, "c133388e3895690e"),
    "incremental_uncapped": (
        lambda d: _incremental(d, bucket_cap=None), _INC, "2295d67efb7c14b5",
    ),
    "near_dup_components": (
        lambda d: near_dup_components(d, "doc_id", "text", threshold=0.5),
        _DOC[:-1] + ",component:bigint>", "8d7fb14e6d4645fa",
    ),
    "simhash_near_dedup": (
        lambda d: nd.simhash_near_dedup(d, "doc_id", "text"),
        _DOC, "8fe57076d993063a",
    ),
    "lsh_bucket_stats": (
        lambda d: nd.lsh_bucket_stats(d, "doc_id", "text"),
        "struct<band_idx:int,band_hash:string,n_docs:bigint,rank:int>", "4a04ac5d7fbb8769",
    ),
}

#: case -> (call on the embeddings frame, schema, row digest before the change)
_EMB_PINNED = {
    "embedding_near_dup": (
        lambda e: nd.embedding_near_dup(
            e, "vec_id", "embedding", threshold=0.3, block_col="label"
        ).select("id_a", "id_b", F.round("cosine", 6).alias("cosine")),
        "struct<id_a:bigint,id_b:bigint,cosine:double>", "c770612b323ce8f8",
    ),
    "semantic_dedup": (
        lambda e: nd.semantic_dedup(
            e, "vec_id", "embedding", n_cells=8, threshold=0.3, assign_levels=1
        ),
        "struct<vec_id:bigint,cell:bigint,kept:boolean,dup_of:bigint,cosine:double>",
        "8dca84af0db462fb",
    ),
}


def _digest(df) -> str:
    from instructionspipe_spark.session import release_persisted

    rows = sorted(json.dumps(r.asDict(recursive=True), sort_keys=True) for r in df.collect())
    release_persisted()
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


@pytest.fixture(scope="module")
def docs(tables):
    return tables["documents"]


@pytest.fixture(scope="module")
def emb(tables):
    return tables["embeddings"]


@pytest.mark.parametrize("case", sorted(_PINNED))
def test_near_dup_matches_pinned_rows(docs, case):
    build, schema, digest = _PINNED[case]
    out = build(docs)
    assert out.schema.simpleString() == schema
    assert _digest(out) == digest


@pytest.mark.parametrize("case", sorted(_EMB_PINNED))
def test_embedding_near_dup_matches_pinned_rows(emb, case):
    build, schema, digest = _EMB_PINNED[case]
    out = build(emb)
    assert out.schema.simpleString() == schema
    assert _digest(out) == digest


def test_band_store_from_parquet_matches_pinned_rows(spark, docs, tmp_path):
    """The persisted-store path — minhash_band_store written to parquet and
    read back — reproduces the in-plan store's admission verdicts, and the
    store rows themselves are unchanged."""
    corpus, _ = _split(docs)
    nd.minhash_band_store(corpus, "doc_id", "text").write.parquet(str(tmp_path / "store"))
    store = spark.read.parquet(str(tmp_path / "store"))
    assert _digest(store) == "780c2e8abd31d35f"
    assert _digest(_incremental(docs, corpus_store=store)) == _PINNED["incremental_capped"][2]


def _three_docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "spark shuffles band hashes across executors"),
            (3, "an entirely unrelated sentence about tides"),
        ],
        "id long, text string",
    )


def test_bands_must_fit_the_signature(spark):
    """bands > num_perm leaves zero rows per band: every document would
    share the one empty band bucket and all but the min id would drop."""
    df = _three_docs(spark)
    with pytest.raises(ValueError, match="bands"):
        nd.minhash_lsh_dedup(df, "id", "text", num_perm=4, bands=8)
    with pytest.raises(ValueError, match="bands"):
        nd.minhash_band_store(df, "id", "text", num_perm=16, bands=0)


def test_word_blocks_need_a_word(spark):
    with pytest.raises(ValueError, match="block_words"):
        nd.word_block_dedup(_three_docs(spark), "id", "text", block_words=0)
