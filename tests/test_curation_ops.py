"""PII redaction."""

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
