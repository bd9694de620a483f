"""IO robustness + format application, against the reference's own edge-case
fixtures (read in place from /root/reference/testdata — never copied)."""

import os

import pytest

from feldman_spark.formats.registry import (
    MANUAL_CORRELATION_FORMAT,
    SECTION_SUMMARY_FORMAT,
)
from feldman_spark.io.csv import (
    FormatError,
    _probe,
    can_create_with_file,
    read_csv,
    read_headers,
    read_tabular,
)


def test_utf8_bom_blanklines(spark, ref_testdata):
    # UTF-8 BOM header + interleaved blank lines must load as 4 rows
    # (tabular/pandasutils.py:176-178)
    df = read_csv(spark, os.path.join(ref_testdata, "utf8_bom_blanklines.csv"))
    assert df.count() == 4
    assert not df.columns[0].startswith("﻿")


def test_utf8err_fallback(spark, ref_testdata):
    # invalid UTF-8 byte: loads via Latin-1 fallback, 2 rows
    # (tabular/pandasutils.py:172-174)
    df = read_csv(spark, os.path.join(ref_testdata, "utf8err.csv"))
    assert df.count() == 2


def test_read_headers(ref_testdata):
    hs = read_headers(os.path.join(ref_testdata, "GLAD9_SectionSummary.csv"))
    assert len(hs) == 10
    assert "Site" in hs and "CuratedLength" in hs


def test_missing_optional_gaps_added(spark, ref_testdata):
    # optional Gaps column absent -> auto-added empty
    # (coring/sectionSummary.py:275-278)
    df = read_tabular(spark, os.path.join(ref_testdata, "SectionSummaryNoGaps.csv"),
                      SECTION_SUMMARY_FORMAT)
    assert "Gaps" in df.columns
    assert df.filter(df.Gaps != "").count() == 0


def test_missing_required_raises(spark, ref_testdata):
    # missing required column -> FormatError (coring/sectionSummary.py:281-282)
    with pytest.raises(FormatError):
        read_tabular(spark, os.path.join(ref_testdata, "SectionSummaryNoSite.csv"),
                     SECTION_SUMMARY_FORMAT)


def test_format_sniff(ref_testdata):
    assert can_create_with_file(
        os.path.join(ref_testdata, "ManualCorrelationTable.csv"),
        MANUAL_CORRELATION_FORMAT)
    assert not can_create_with_file(
        os.path.join(ref_testdata, "GLAD9_SectionSummary.csv"),
        MANUAL_CORRELATION_FORMAT)


def test_utf8_char_across_probe_boundary(spark, tmp_path):
    # a two-byte character straddling the 1 MiB probe is valid UTF-8:
    # the sniff must not fall back to Latin-1 (mojibake), and the header
    # probe, which reads the same 1 MiB, must not fail to decode
    p = tmp_path / "boundary.csv"
    head = b"Name,Note\n"
    filler = b"a" * ((1 << 20) - 1 - len(head) - len(b"x,"))
    body = b"x," + filler + "é".encode("utf-8") + b"\n"
    assert len(head + body) > (1 << 20)
    p.write_bytes(head + body)
    assert (head + body).index("é".encode("utf-8")) == (1 << 20) - 1
    assert _probe(str(p))[0] == "UTF-8"
    assert read_headers(str(p)) == ["Name", "Note"]
    note = read_csv(spark, str(p)).first()["Note"]
    assert note.endswith("é")


def test_empty_file_has_no_headers(tmp_path):
    p = tmp_path / "empty.csv"
    p.write_bytes(b"")
    assert read_headers(str(p)) == []
    assert not can_create_with_file(str(p), MANUAL_CORRELATION_FORMAT)


def test_empty_manual_correlation_raises_format_error(spark, tmp_path):
    from feldman_spark.engine import convert_sparse_splice, load_manual_correlation

    ss = tmp_path / "secsumm.csv"
    ss.write_text(
        "Site,Hole,Core,Tool,Section,TopDepth,BottomDepth,TopDepthScaled,"
        "BottomDepthScaled,CuratedLength\n1,A,1,H,1,0,1.5,0,1.5,1.5\n")
    sp = tmp_path / "sparse.csv"
    sp.write_text(
        "Site,Hole,Core,Tool,TopSection,TopOffset,BottomSection,"
        "BottomOffset,SpliceType\n1,A,1,H,1,10,1,100,APPEND\n")
    mc = tmp_path / "mancorr.csv"
    mc.write_bytes(b"")
    assert load_manual_correlation(spark, str(mc)) == (None, None)
    with pytest.raises(FormatError, match="could not be loaded"):
        convert_sparse_splice(
            spark, str(ss), str(sp), str(tmp_path / "aff.csv"),
            str(tmp_path / "sit.csv"), manual_correlation_path=str(mc))


# header line, data line, sep: each header must get the names and the
# row values that Spark's own header inference gives
HEADER_CASES = {
    "duplicate": ("a,b,a", "1,2,3", ","),
    "case_duplicate": ("b,B", "1,2", ","),
    "empty_name": ("a,,b", "1,2,3", ","),
    "padded_and_quoted": (' a ,"x, y",  " z "  ,b', "1,2,3,4", ","),
    "backtick": ("a`b,c", "1,2", ","),
    "utf8_bom": ("\ufeffa,b", "1,2", ","),
    "semicolon": ("a;b;a", "1;2,5;3", ";"),
}


@pytest.mark.parametrize("case", list(HEADER_CASES))
def test_header_parity_with_spark_inference(spark, tmp_path, case):
    header, row, sep = HEADER_CASES[case]
    p = tmp_path / f"{case}.csv"
    p.write_bytes(f"{header}\n{row}\n".encode("utf-8"))
    inferred = (
        spark.read.option("header", True).option("sep", sep)
        .option("ignoreLeadingWhiteSpace", True)
        .option("ignoreTrailingWhiteSpace", True)
        .csv(str(p)))
    ours = read_csv(spark, str(p), sep=sep)
    assert ours.columns == inferred.columns
    assert [tuple(r) for r in ours.collect()] == [tuple(r) for r in inferred.collect()]


def test_read_tabular_runs_no_job(spark, tmp_path, count_jobs):
    # the schema is declared from the driver-side header probe: building
    # the read, the null mapping, the blank-row filter and the casts
    # start no Spark job
    p = tmp_path / "secsumm.csv"
    p.write_text(
        "Site,Hole,Core,Tool,Section,TopDepth,BottomDepth,TopDepthScaled,"
        "BottomDepthScaled,CuratedLength\n1,A,1,H,1,0,1.5,0,1.5,1.5\n")
    df, jobs = count_jobs(lambda: read_tabular(spark, str(p), SECTION_SUMMARY_FORMAT))
    assert jobs == 0
    assert df.columns[:5] == ["Site", "Hole", "Core", "Tool", "Section"]
    assert df.first()["BottomDepth"] == 1.5


def test_question_marks_null(spark, tmp_out):
    p = os.path.join(tmp_out, "qmarks.csv")
    with open(p, "w") as f:
        f.write("A,B\n?,1.5\nx,??\n")
    df = read_csv(spark, p)
    rows = sorted(df.collect(), key=lambda r: (r["B"] is None, r["B"] or ""))
    assert rows[0]["A"] is None and rows[0]["B"] == "1.5"
    assert rows[1]["A"] == "x" and rows[1]["B"] is None


def test_read_jsonl_clean_corrupt_split(spark, tmp_out):
    import json as _json
    import os

    from feldman_spark.io.jsonl import jsonl_stats, read_jsonl

    src = f"{tmp_out}/jsonl_src"
    os.makedirs(src, exist_ok=True)
    with open(f"{src}/a.jsonl", "w") as f:
        for i in range(50):
            f.write(_json.dumps({"doc_id": i, "text": f"doc {i}"}) + "\n")
        f.write("\n")                      # blank: skipped, not corrupt
        f.write("{broken json\n")          # corrupt
        f.write('{"doc_id": 99}\n')        # missing field: clean w/ null
    with open(f"{src}/b.jsonl", "w") as f:
        f.write("also not json\n")

    from pyspark.sql import functions as F

    r = read_jsonl(spark, src, "doc_id LONG, text STRING")
    assert r.clean.count() == 51
    assert r.clean.filter(F.col("doc_id") == 99).first()["text"] is None
    bad = r.corrupt.collect()
    assert {b["raw"] for b in bad} == {"{broken json", "also not json"}
    assert all(b["src_file"] for b in bad)

    stats = {os.path.basename(s["src_file"]): (s["n_clean"], s["n_corrupt"])
             for s in jsonl_stats(r).collect()}
    assert stats["a.jsonl"] == (51, 1)
    assert stats["b.jsonl"] == (0, 1)


def test_jsonl_export_roundtrip(spark, tmp_out):
    """export_jsonl_sharded output reads back losslessly through
    read_jsonl with zero corrupt lines."""
    from feldman_spark.io.jsonl import read_jsonl
    from feldman_spark.pipeline.training import export_jsonl_sharded

    d = spark.createDataFrame(
        [(i, f"text {i}", float(i) / 7) for i in range(300)],
        ["doc_id", "text", "w"])
    path = f"{tmp_out}/jsonl_rt"
    export_jsonl_sharded(d, path, "doc_id", num_shards=4, manifest=False)
    r = read_jsonl(spark, f"{path}/shard=*", "doc_id LONG, text STRING, w DOUBLE")
    assert r.corrupt.count() == 0
    got = sorted(map(tuple, r.clean.select("doc_id", "text", "w").collect()))
    want = sorted(map(tuple, d.collect()))
    assert got == want


def _warc_record(uri, body, rtype="response", http=True, date="2024-01-02T03:04:05Z"):
    if http and rtype == "response":
        payload = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
                   b"Server: t\r\n\r\n" + body)
    else:
        payload = body
    head = (f"WARC/1.0\r\nWARC-Type: {rtype}\r\n"
            f"WARC-Target-URI: {uri}\r\nWARC-Date: {date}\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n").encode()
    return head + payload + b"\r\n\r\n"


def test_read_warc_plain_and_gzip(spark, tmp_out):
    """Responses parse with HTTP split (status + content-type + body);
    request records filter out; gzip (incl. concatenated members, the
    Common Crawl layout) reads identically."""
    import gzip as _gz

    from feldman_spark.io.warc import read_warc

    r1 = _warc_record("http://a.example/x", b"<html>hello A</html>")
    r2 = _warc_record("http://a.example/x", b"GET /x HTTP/1.1", rtype="request",
                      http=False)
    r3 = _warc_record("http://b.example/y", b"hello B plain", http=True)
    plain = f"{tmp_out}/w1.warc"
    with open(plain, "wb") as f:
        f.write(r1 + r2 + r3)
    # concatenated gzip members, one per record (CC layout)
    gz = f"{tmp_out}/w2.warc.gz"
    with open(gz, "wb") as f:
        for r in (r1, r2, r3):
            f.write(_gz.compress(r))

    for path in (plain, gz):
        rows = {r["target_uri"]: r
                for r in read_warc(spark, [path]).collect()}
        assert set(rows) == {"http://a.example/x", "http://b.example/y"}
        a = rows["http://a.example/x"]
        assert a["http_status"] == 200
        assert a["content_type"].startswith("text/html")
        assert bytes(a["payload"]) == b"<html>hello A</html>"
        assert a["record_type"] == "response"
        assert a["warc_date"] == "2024-01-02T03:04:05Z"
        assert not a["truncated"]


def test_read_warc_truncation_and_bad_records(spark, tmp_out):
    """Payloads above the limit cut + flagged; a record with an
    unparseable Content-Length is skipped without killing the job;
    record_types=None keeps requests too."""
    from feldman_spark.io.warc import read_warc

    big = _warc_record("http://c.example/big", b"B" * 1000)
    bad = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: http://bad.example\r\n"
           b"Content-Length: oops\r\n\r\n")
    req = _warc_record("http://c.example/req", b"GET / HTTP/1.1",
                       rtype="request", http=False)
    path = f"{tmp_out}/w3.warc"
    with open(path, "wb") as f:
        f.write(big + bad + req)
    out = read_warc(spark, [path], record_types=None, payload_limit=100)
    rows = {r["target_uri"]: r for r in out.collect()}
    assert "http://bad.example" not in rows
    b = rows["http://c.example/big"]
    assert b["truncated"] and len(bytes(b["payload"])) == 100
    assert rows["http://c.example/req"]["record_type"] == "request"


def test_read_warc_pipeline_integration(spark, tmp_out):
    """WARC -> strip_html -> quality features: the crawl front half of
    the curation pipeline runs end to end on the parsed payloads."""
    from feldman_spark.io.warc import read_warc
    from feldman_spark.pipeline.text import strip_html

    body = (b"<html><head><script>var x = 1;</script><title>T</title></head>"
            b"<body><p>clean crawl text &amp; more</p></body></html>")
    path = f"{tmp_out}/w4.warc"
    with open(path, "wb") as f:
        f.write(_warc_record("http://d.example/p", body))
    from pyspark.sql import functions as F

    docs = (
        read_warc(spark, [path])
        .select("target_uri",
                strip_html(F.col("payload").cast("string")).alias("text"))
    )
    got = docs.collect()[0]
    assert got["text"] == "T clean crawl text & more"
