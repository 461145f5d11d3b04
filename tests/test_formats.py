"""Interchange-format round-trips (ORC/CSV/JSON/tar sink+source pairs).
The driver gate hash-matches these against DuckDB on
the original parquet; the tests here pin the LOSSLESSNESS claims directly
(re-read copy identical to the source DataFrame, row by row).
"""

from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.formats import (
    csv_roundtrip_documents,
    json_roundtrip_documents,
    orc_roundtrip_lineitem,
)
from national_caseload_data_ingest_spark.session import load_tables

SF = "/root/testdata/sf0.001"


def _doc_truth(spark):
    return {
        r["doc_id"]: (r["lang"], r["n_chars"], r["text_md5"])
        for r in load_tables(spark, SF, "documents")["documents"]
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.md5(F.col("text").cast("binary")).alias("text_md5"),
        )
        .collect()
    }


def test_csv_roundtrip_lossless(spark):
    truth = _doc_truth(spark)
    got = {
        r["doc_id"]: (r["lang"], r["n_chars"], r["text_md5"])
        for r in csv_roundtrip_documents(spark, SF).collect()
    }
    assert got == truth


def test_json_roundtrip_lossless(spark):
    truth = _doc_truth(spark)
    got = {
        r["doc_id"]: (r["lang"], r["n_chars"], r["text_md5"])
        for r in json_roundtrip_documents(spark, SF).collect()
    }
    assert got == truth


def test_orc_roundtrip_aggregates_match_parquet(spark):
    """The ORC re-read aggregate must equal the same aggregate computed
    straight off the parquet source (types incl. µs timestamps survive)."""
    from national_caseload_data_ingest_spark.functions import dsum

    li = load_tables(spark, SF, "lineitem")["lineitem"]
    direct = {
        (r["l_returnflag"], r["l_linestatus"]): (
            r["n_rows"],
            r["sum_qty"],
            r["sum_price"],
            r["min_ship"],
            r["max_ship"],
        )
        for r in li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_price"),
            F.date_format(F.min("l_shipdate"), "yyyy-MM-dd HH:mm:ss").alias(
                "min_ship"
            ),
            F.date_format(F.max("l_shipdate"), "yyyy-MM-dd HH:mm:ss").alias(
                "max_ship"
            ),
        )
        .collect()
    }
    got = {
        (r["l_returnflag"], r["l_linestatus"]): (
            r["n_rows"],
            r["sum_qty"],
            r["sum_price"],
            r["min_ship"],
            r["max_ship"],
        )
        for r in orc_roundtrip_lineitem(spark, SF).collect()
    }
    assert got == direct


def test_csv_handles_adversarial_text(spark, tmp_path):
    """Quotes, commas, embedded newlines, and backslashes survive the
    RFC-4180 write/read pair byte for byte."""
    nasty = [
        (1, 'say "hello", ok?'),
        (2, "line one\nline two\r\nline three"),
        (3, "trailing backslash \\ and \\n literal"),
        (4, ',,",",""'),
        (5, " leading and trailing spaces "),
    ]
    df = spark.createDataFrame(nasty, "id int, text string")
    path = str(tmp_path / "nasty_csv")
    df.write.options(
        header=True,
        quote='"',
        escape='"',
        ignoreLeadingWhiteSpace=False,
        ignoreTrailingWhiteSpace=False,
    ).csv(path)
    back = (
        spark.read.options(header=True, quote='"', escape='"', multiLine=True)
        .schema(df.schema)
        .csv(path)
    )
    assert {(r["id"], r["text"]) for r in back.collect()} == set(nasty)


def test_tar_roundtrip_lossless_and_adversarial(spark):
    """The tar codec must survive unicode bodies, empty text, empty
    partitions, and many small members — the shapes a real WebDataset
    shard throws at it."""
    from national_caseload_data_ingest_spark.operators.formats import (
        decode_tar_payloads,
        encode_tar_partitions,
        tar_roundtrip_documents,
    )

    # full-table digests against the source of truth
    truth = _doc_truth(spark)
    got = {
        r["doc_id"]: (r["lang"], r["n_chars"], r["text_md5"])
        for r in tar_roundtrip_documents(spark, SF).collect()
    }
    assert got == truth

    # adversarial rows: unicode, empty body, pipe-free metadata fields,
    # plus enough partitions that some are empty
    rows = [
        (1, "héllo wörld é中文", "fr", "web", 12),
        (2, "", "en", "books", 0),
        (3, "a" * 10_000, "en", "web", 10_000),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).repartition(8)
    payloads = encode_tar_partitions(df)
    assert payloads.count() <= 3  # empty partitions emit no payload
    back = {r["doc_id"]: r for r in decode_tar_payloads(payloads).collect()}
    assert set(back) == {1, 2, 3}
    for doc_id, text, lang, source, n_chars in rows:
        b = back[doc_id]
        assert (b["text"], b["lang"], b["source"], b["n_chars"]) == (
            text,
            lang,
            source,
            n_chars,
        )
