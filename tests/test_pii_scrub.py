"""PII scrubbing operator: goldens, NULL propagation, chain-order
contract (URL swallows embedded emails), and count semantics."""

import pyspark.sql.functions as F
import pytest

from aloha_spark.operators.textstats import with_pii_scrubbed


def _scrub_one(spark, text):
    df = spark.createDataFrame([(text,)], "text string")
    row = with_pii_scrubbed(df).collect()[0]
    return row["text_scrubbed"], row["n_redactions"]


def test_email(spark):
    s, n = _scrub_one(spark, "mail Bob.Smith+x@sub.example.org today")
    assert s == "mail <EMAIL> today"
    assert n == 1


def test_url(spark):
    s, n = _scrub_one(spark, "see https://a.example.com/p?q=1#f and more")
    assert s == "see <URL> and more"
    assert n == 1


def test_url_swallows_embedded_email(spark):
    # chain-order contract: URL stage runs first, so an address inside
    # a URL path becomes part of <URL>, not a second <EMAIL>
    s, n = _scrub_one(spark, "x http://h.io/mail/a@b.co y a@b.co z")
    assert s == "x <URL> y <EMAIL> z"
    assert n == 2


def test_ipv4_and_phone(spark):
    s, n = _scrub_one(spark, "host 192.168.0.17 call +44 (0) 20-7946 0958.")
    assert s == "host <IP> call <PHONE>."
    assert n == 2


def test_ip_before_phone_no_half_match(spark):
    # a dotted quad must be fully redacted as <IP>; the phone patterns
    # (a leading + or the dashed NNN-NNN(N)-NNNN layout) must not touch
    # plain space-separated number runs
    s, n = _scrub_one(spark, "10.0.0.1 then 555 1234 5678")
    assert s == "<IP> then 555 1234 5678"
    assert n == 1


def test_null_and_clean_text(spark):
    df = spark.createDataFrame([(None,), ("no pii here",)], "text string")
    rows = {r["text"]: r for r in with_pii_scrubbed(df).collect()}
    assert rows[None]["text_scrubbed"] is None
    assert rows[None]["n_redactions"] is None
    assert rows["no pii here"]["text_scrubbed"] == "no pii here"
    assert rows["no pii here"]["n_redactions"] == 0


def test_counts_are_per_match(spark):
    s, n = _scrub_one(spark, "a@b.co c@d.io http://x.y http://z.w")
    assert s == "<EMAIL> <EMAIL> <URL> <URL>"
    assert n == 4


def test_jvm_only_plan(spark):
    # the scrub must stay whole-stage-codegen JVM (no Python workers)
    df = spark.createDataFrame([("t http://a.b",)], "text string")
    plan = with_pii_scrubbed(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEvalPython" not in plan


def test_unprefixed_phone(spark):
    # the NNN-NNNN-NNNN numbers data/documents.py plants, and the
    # NNN-NNN-NNNN form; a '+'-prefixed number stays ONE placeholder
    s, n = _scrub_one(spark, "call 555-0042-1234. or 415-555-0100 "
                             "or +1 555-123-4567 now")
    assert s == "call <PHONE>. or <PHONE> or <PHONE> now"
    assert n == 3
    # digit runs without the dash layout are not phone numbers
    s, n = _scrub_one(spark, "id 5551234567 v1-2-3 2024-01-15")
    assert (s, n) == ("id 5551234567 v1-2-3 2024-01-15", 0)
