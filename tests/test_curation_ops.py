"""PII redaction and sequence packing."""

import pytest

from extract_cbd_shape_spark.operators.packing import (
    pack_offsets,
    pack_sequences,
)
from extract_cbd_shape_spark.operators.pii import redact_documents


def test_pii_redaction_counts_and_text(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@site.example.com or +1 555-0199, "
                "host 10.0.3.7 thanks"),
            (2, "no pii here"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in redact_documents(df).collect()}
    r1 = rows[1]
    assert (r1["n_email"], r1["n_ipv4"], r1["n_phone"]) == (1, 1, 1)
    assert r1["clean_text"] == (
        "mail me at <EMAIL> or <PHONE>, host <IP> thanks"
    )
    r2 = rows[2]
    assert (r2["n_email"], r2["n_ipv4"], r2["n_phone"]) == (0, 0, 0)
    assert r2["clean_text"] == "no pii here"


@pytest.mark.parametrize("n_buckets", [1, 3, 64])
def test_pack_offsets_match_serial_cumsum(spark, n_buckets):
    weights = [(i, (i * 7) % 13) for i in range(50)]  # includes zeros
    df = spark.createDataFrame(weights, "doc_id long, n_tokens long")
    out = {
        r["doc_id"]: r
        for r in pack_offsets(
            df.repartition(5), n_buckets=n_buckets
        ).collect()
    }
    run = 0
    for i, w in weights:
        assert out[i]["tok_start"] == run
        assert out[i]["tok_end"] == run + w
        run += w


def test_pack_sequences_spans(spark):
    df = spark.createDataFrame(
        [(0, 100), (1, 0), (2, 30), (3, 900)], "doc_id long, n_tokens long"
    )
    out = {
        r["doc_id"]: r
        for r in pack_sequences(
            pack_offsets(df, n_buckets=2), seq_len=64
        ).collect()
    }
    # doc 0: tokens [0,100) -> seqs 0..1; doc 1 empty -> null span
    assert (out[0]["first_seq"], out[0]["last_seq"], out[0]["n_seqs"]) == (0, 1, 2)
    assert out[1]["first_seq"] is None and out[1]["n_seqs"] == 0
    # doc 2: [100,130) -> seq 1..2 (crosses the 128 boundary)
    assert (out[2]["first_seq"], out[2]["last_seq"]) == (1, 2)
    # doc 3: [130,1030) -> seqs 2..16
    assert (out[3]["first_seq"], out[3]["last_seq"], out[3]["n_seqs"]) == (2, 16, 15)


def test_pack_offsets_empty_input(spark):
    df = spark.createDataFrame([], "doc_id long, n_tokens long")
    assert pack_offsets(df).count() == 0
