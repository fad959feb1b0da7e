"""Pin the catalog registry: entry names, their order and every oracle
text. ``__spark_entry__._rotation`` tie-breaks on the order of
``QUERIES``/``ORACLES``, and the driver compares entry sets round over
round, so a refactor of the catalog module must leave all three
unchanged. Re-pin the digests only with a deliberate catalog change."""

import hashlib

from fhc_rco_etl_scalable_spark.plans.harness_queries import ORACLES, QUERIES

QUERIES_SHA256 = "69dfe9d4bd826255b806fb3c211357687365f9769c4afc4b4f24f5545050d7de"
ORACLE_KEYS_SHA256 = "e4dda99462a46e2e0c7f7b2bf6a31c9fdfc6990d8175cab6f2c8f4e54762ad45"
ORACLE_TEXTS_SHA256 = "cec7eab1020cb668086efe661612e7975524063bab50e39407c0b761a0d18e6b"


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def test_query_names_and_order_are_pinned():
    assert _sha256("\n".join(QUERIES)) == QUERIES_SHA256


def test_oracle_names_and_order_are_pinned():
    assert _sha256("\n".join(ORACLES)) == ORACLE_KEYS_SHA256


def test_oracle_texts_are_pinned():
    # texts joined in sorted key order: this digest moves with the
    # text only, the two above with names and order
    texts = "\n".join(ORACLES[k] for k in sorted(ORACLES))
    assert _sha256(texts) == ORACLE_TEXTS_SHA256
