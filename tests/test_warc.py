"""WARC framing (gooselite.warc) + the q_warc_roundtrip probe.
Cross-engine value equality vs DuckDB is covered by
test_relational_probes."""

import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gooselite.warc import read_warc, read_warc_safe, write_warc

PAGES = [
    ("https://example.com/a", b"<html><p>alpha</p></html>"),
    ("https://example.com/b", "café 中文".encode("utf-8")),
    ("https://example.com/empty", b""),
]


@pytest.mark.parametrize("gz", [True, False])
def test_roundtrip_with_warcinfo_and_requests(gz):
    blob = write_warc(PAGES, gzip_records=gz)
    recs = read_warc(blob)
    assert [r.rec_type for r in recs] == \
        ["warcinfo"] + ["request", "response"] * len(PAGES)
    responses = [r for r in recs if r.rec_type == "response"]
    assert [(r.url, r.payload) for r in responses] == PAGES
    assert all(r.http_status == 200 for r in responses)
    assert all(r.date == "2026-01-01T00:00:00Z" for r in recs)


def test_gzip_per_record_members_are_independent():
    blob = write_warc(PAGES, gzip_records=True)
    # Common Crawl contract: each record its own member → N magics
    assert blob.count(b"\x1f\x8b\x08") == 1 + 2 * len(PAGES)
    # first member alone must decompress to exactly the warcinfo record
    d = zlib.decompressobj(31)
    first = d.decompress(blob) + d.flush()
    assert first.startswith(b"WARC/1.0\r\n") and b"warcinfo" in first


def test_payload_with_crlf_crlf_inside_body_frames_by_length():
    tricky = b"part1\r\n\r\npart2\r\n\r\n"
    recs = read_warc(write_warc([("https://t", tricky)], gzip_records=False,
                                with_warcinfo=False, with_requests=False))
    assert len(recs) == 1 and recs[0].payload == tricky


def test_request_records_carry_http_request_payload():
    recs = read_warc(write_warc(PAGES[:1], gzip_records=False))
    req = [r for r in recs if r.rec_type == "request"][0]
    assert req.payload == b"" and req.url == PAGES[0][0]
    assert req.http_status is None


def test_truncated_gzip_member_rejected():
    blob = write_warc(PAGES, gzip_records=True)
    assert read_warc_safe(blob[: len(blob) - 5]) is None


def test_truncated_plain_body_rejected():
    blob = write_warc(PAGES, gzip_records=False)
    assert read_warc_safe(blob[: len(blob) - 5]) is None


def test_bad_magic_and_missing_length_rejected():
    assert read_warc_safe(b"HARC/1.0\r\nContent-Length: 0\r\n\r\n\r\n\r\n") is None
    assert read_warc_safe(b"WARC/1.0\r\nWARC-Type: response\r\n\r\nx") is None


def test_header_names_case_insensitive():
    raw = (b"WARC/1.0\r\nwarc-type: response\r\n"
           b"WARC-TARGET-URI: https://x\r\ncontent-length: 3\r\n\r\n"
           b"abc\r\n\r\n")
    recs = read_warc(raw)
    assert recs[0].url == "https://x" and recs[0].payload == b"abc"


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=300))
def test_read_warc_safe_total_over_arbitrary_bytes(b):
    got = read_warc_safe(b)
    assert got is None or isinstance(got, list)


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 2**31), st.booleans(), st.data())
def test_read_warc_safe_total_over_mutated_valid_files(seed, gz, data):
    import random

    rnd = random.Random(seed)
    pages = [(f"https://m/{i}", bytes(rnd.randrange(256)
             for _ in range(rnd.randint(0, 30)))) for i in range(3)]
    blob = bytearray(write_warc(pages, gzip_records=gz))
    for _ in range(rnd.randint(1, 6)):
        blob[data.draw(st.integers(0, len(blob) - 1))] = \
            data.draw(st.integers(0, 255))
    read_warc_safe(bytes(blob))  # must not raise; value unspecified


def test_wet_roundtrip_conversion_records():
    from gooselite.warc import read_warc, write_wet

    docs = [("https://x/1", "extracted text one"),
            ("https://x/2", "unicode – “text” 漢字"),
            ("https://x/3", "")]
    for gz in (True, False):
        blob = write_wet(docs, gzip_records=gz)
        recs = read_warc(blob)
        assert recs[0].rec_type == "warcinfo"
        conv = [r for r in recs if r.rec_type == "conversion"]
        assert [(r.url, r.payload.decode("utf-8")) for r in conv] == [
            (u, t) for u, t in docs]
        assert all(r.http_status is None for r in conv)


def test_wat_roundtrip_metadata_records():
    from gooselite.warc import read_warc, write_wat

    entries = [("https://x/1", b'{"links":[],"title":"a","url":"https://x/1"}'),
               ("https://x/2", '{"title":"üñí"}'),  # str payload path
               ("https://x/3", b"")]
    for gz in (True, False):
        blob = write_wat(entries, gzip_records=gz)
        recs = read_warc(blob)
        assert recs[0].rec_type == "warcinfo"
        meta = [r for r in recs if r.rec_type == "metadata"]
        assert [(r.url, r.payload) for r in meta] == [
            (u, p if isinstance(p, bytes) else p.encode("utf-8"))
            for u, p in entries]
        assert all(r.http_status is None for r in meta)


def test_salvage_drops_only_corrupt_members_and_counts():
    """One flipped byte in a member drops ONLY that member: preceding
    and following members (incl. the same doc's warcinfo/request)
    survive, and the salvage count is reported."""
    from gooselite.warc import read_warc, read_warc_salvage, write_warc

    segs, expect = [], []
    for i in range(6):
        seg = write_warc([(f"https://e/d/{i}", f"payload {i}".encode())],
                         gzip_records=True)
        if i == 2:  # corrupt the RESPONSE member (last of the three)
            from goose_spark.warcops import _member_spans

            start, ln = _member_spans(seg)[-1]
            b = bytearray(seg)
            b[start + ln // 2] ^= 0xFF
            seg = bytes(b)
        else:
            expect.append(i)
        segs.append(seg)
    recs, bad = read_warc_salvage(b"".join(segs))
    got = [int(r.url.rsplit("/", 1)[1])
           for r in recs if r.rec_type == "response"]
    assert got == expect
    assert bad >= 1
    # a clean blob salvages with zero bad regions and full parity
    clean = b"".join(write_warc([(f"https://e/d/{i}", b"x")],
                                gzip_records=True) for i in range(3))
    recs2, bad2 = read_warc_salvage(clean)
    assert bad2 == 0
    assert [r.rec_type for r in recs2] == [r.rec_type
                                           for r in read_warc(clean)]
    # plain (non-gzip) input: all-or-nothing like read_warc_safe
    plain = write_warc([("https://e/d/9", b"y")], gzip_records=False)
    recs3, bad3 = read_warc_salvage(plain)
    assert bad3 == 0 and len(recs3) == 3
    recs4, bad4 = read_warc_salvage(b"garbage")
    assert recs4 == [] and bad4 == 1
    # a flip in the FIRST member's gzip magic loses only that member
    head_hit = bytearray(clean)
    head_hit[0] ^= 0xFF
    recs5, bad5 = read_warc_salvage(bytes(head_hit))
    # only the first member (warcinfo) is lost; resync recovers the rest
    assert len(recs5) == len(recs2) - 1 and bad5 >= 1
    # memoryview input parses identically to bytes
    recs6, bad6 = read_warc_salvage(memoryview(clean))
    assert len(recs6) == len(recs2) and bad6 == 0


def test_varied_status_responses_and_header_parse():
    from gooselite.warc import parse_http_headers, read_warc, write_warc

    pages = [
        ("https://e/d/0", b"body0"),  # legacy 2-tuple → 200 text/html
        ("https://e/d/1", b"", "301 Moved Permanently",
         [("Content-Type", "text/html"), ("Location", "https://e/moved/1")]),
        ("https://e/d/2", b"", "503 Service Unavailable",
         [("Retry-After", "30")]),
    ]
    recs = [r for r in read_warc(write_warc(pages))
            if r.rec_type == "response"]
    assert [r.http_status for r in recs] == [200, 301, 503]
    h0 = parse_http_headers(recs[0].http_headers)
    assert h0["content-type"] == "text/html; charset=utf-8"
    assert recs[0].payload == b"body0"
    h1 = parse_http_headers(recs[1].http_headers)
    assert h1["location"] == "https://e/moved/1"
    assert recs[1].payload == b""
    h2 = parse_http_headers(recs[2].http_headers)
    assert h2["retry-after"] == "30"
    # request records carry their header block too; warcinfo has none
    all_recs = read_warc(write_warc(pages))
    assert all_recs[0].rec_type == "warcinfo"
    assert all_recs[0].http_headers is None
    req = next(r for r in all_recs if r.rec_type == "request")
    assert parse_http_headers(req.http_headers)["host"] == "example.com"


def test_parse_http_headers_edge_cases():
    from gooselite.warc import parse_http_headers

    assert parse_http_headers(None) == {}
    assert parse_http_headers(b"") == {}
    # duplicates join per RFC 9110 list-combination; malformed lines
    # (no colon, empty name) are skipped; names lowercase
    head = (b"HTTP/1.1 200 OK\r\n"
            b"Set-Cookie: a=1\r\n"
            b"SET-COOKIE: b=2\r\n"
            b"garbage line without colon\r\n"
            b": novalue\r\n"
            b"X-Empty:\r\n")
    h = parse_http_headers(head)
    assert h["set-cookie"] == "a=1, b=2"
    assert h["x-empty"] == ""
    assert "garbage line without colon" not in str(h)
    assert len(h) == 2


def test_parse_http_headers_keeps_first_line_without_status_line():
    from gooselite.warc import parse_http_headers

    head = b"Content-Type: text/html\r\nLocation: https://e/moved\r\n"
    assert parse_http_headers(head) == {"content-type": "text/html",
                                        "location": "https://e/moved"}
    # status and request lines are still dropped, colon or not
    assert parse_http_headers(b"HTTP/1.1 200 OK: fine\r\nA: 1") == {"a": "1"}
    assert parse_http_headers(b"GET https://e/x HTTP/1.1\r\nHost: e") == \
        {"host": "e"}


def test_write_warc_drops_caller_content_length():
    from gooselite.warc import parse_http_headers

    pages = [("https://e/cl", b"body", "200 OK",
              [("content-LENGTH", "999"), ("Content-Type", "text/plain")])]
    (resp,) = [r for r in read_warc(write_warc(pages))
               if r.rec_type == "response"]
    assert resp.http_headers.lower().count(b"content-length") == 1
    assert parse_http_headers(resp.http_headers) == {
        "content-type": "text/plain", "content-length": "4"}
    assert resp.payload == b"body"
