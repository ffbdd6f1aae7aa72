"""Semantics pins for pipeline_chunk_dedup (Dolma-style paragraph /
chunk dedup over fixed 8-word windows): first occurrence in
(doc_id, chunk_idx) order wins globally; losers drop from the
reassembled text; reassembly preserves chunk order."""

from __future__ import annotations

import pandas as pd

from ciws_server_spark.operators.pipeline import (
    _CHUNK_WORDS,
    pipeline_chunk_dedup,
)


def _mkdocs(tmp_path, texts):
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["t"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")
    return str(tmp_path)


def test_first_occurrence_wins_and_reassembly(spark, tmp_path):
    assert _CHUNK_WORDS == 8
    dup = " ".join(f"w{i}" for i in range(8))  # one exact 8-word chunk
    uniq_a = " ".join(f"a{i}" for i in range(8))
    uniq_b = " ".join(f"b{i}" for i in range(8))
    # doc0: [dup, uniq_a]; doc1: [uniq_b, dup] — doc1's dup loses to
    # doc0's (doc order), even though doc1's is mid-document
    sf = _mkdocs(tmp_path, [f"{dup} {uniq_a}", f"{uniq_b} {dup}"])
    rows = {
        r["doc_id"]: r
        for r in pipeline_chunk_dedup(spark, sf).collect()
    }
    assert rows[0]["n_chunks"] == 2 and rows[0]["n_kept"] == 2
    assert rows[0]["dedup_text"] == f"{dup} {uniq_a}"
    assert rows[1]["n_chunks"] == 2 and rows[1]["n_kept"] == 1
    assert rows[1]["dedup_text"] == uniq_b  # dup chunk removed


def test_within_doc_duplicate_and_tail(spark, tmp_path):
    dup = " ".join(f"x{i}" for i in range(8))
    tail = "t0 t1 t2"  # 3-word ragged tail = its own short chunk
    sf = _mkdocs(tmp_path, [f"{dup} {dup} {tail}"])
    (row,) = pipeline_chunk_dedup(spark, sf).collect()
    # 8+8+3 words -> 3 chunks; the second dup loses to the first
    assert row["n_chunks"] == 3 and row["n_kept"] == 2
    assert row["dedup_text"] == f"{dup} {tail}"


def test_all_chunks_duplicate_gives_empty_text(spark, tmp_path):
    dup = " ".join(f"y{i}" for i in range(8))
    sf = _mkdocs(tmp_path, [dup, dup])
    rows = {
        r["doc_id"]: r
        for r in pipeline_chunk_dedup(spark, sf).collect()
    }
    assert rows[0]["n_kept"] == 1 and rows[0]["dedup_text"] == dup
    assert rows[1]["n_kept"] == 0 and rows[1]["dedup_text"] == ""


def test_unigram_logprob_hand_computed(spark, tmp_path):
    """Corpus 'a a a b': p(a)=3/4, p(b)=1/4. doc0='a a' → 2·log2(4/3)
    / 2; doc1='a b' → (log2(4/3)+log2(4))/2."""
    import math

    from ciws_server_spark.operators.text_analysis import (
        text_unigram_logprob,
    )

    sf = _mkdocs(tmp_path, ["a a", "a b"])
    rows = {
        r["doc_id"]: r for r in text_unigram_logprob(spark, sf).collect()
    }
    la = math.log2(4 / 3)
    assert rows[0]["n_words"] == 2
    assert rows[0]["bits_per_word"] == round(la, 6)
    assert rows[1]["bits_per_word"] == round((la + 2.0) / 2, 6)
