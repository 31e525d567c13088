"""operators.dedup: driver cost of building the MinHash-LSH plans."""

import pytest


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon token{i % 7} zeta eta theta")
         for i in range(40)],
        "doc_id long, text string",
    )


def test_minhash_band_rows_build_in_few_py4j_round_trips(docs, monkeypatch):
    """The 64 signature and 16 band expressions are parsed from SQL
    text, not assembled one py4j call at a time (~3,900 round trips)."""
    from py4j.java_gateway import GatewayClient

    from dataingestionframework_spark.operators.dedup import (
        minhash_band_rows,
        minhash_signatures,
    )

    sent = []
    send = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        sent.append(1)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    bands = minhash_band_rows(minhash_signatures(docs))
    monkeypatch.undo()
    assert len(sent) <= 1000, len(sent)
    assert bands.dtypes == [
        ("doc_id", "bigint"), ("band_id", "int"), ("band_hash", "bigint"),
    ]
    assert bands.count() == 16 * 40
