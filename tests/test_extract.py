"""Stage-0 extraction kernel: text invariant + island parse."""

from osm_wayback_spark.sources.extract import (
    extract_island,
    extract_text,
    extract_versions,
    verify_text_invariant,
)
from osm_wayback_spark.synth import synth_pages, synth_pages_local

SF = 0.001


def test_text_extraction_byte_identical_local():
    pdf = synth_pages_local(SF)
    for html, text in zip(pdf["html"], pdf["text"]):
        assert extract_text(html) == text  # byte-identical per url


def test_island_parses_every_page():
    pdf = synth_pages_local(SF)
    for html in pdf["html"]:
        isl = extract_island(html)
        assert isl is not None
        assert {"element_type", "id", "version", "ts"} <= set(isl)


def test_text_invariant_distributed(spark):
    pages = synth_pages(spark, SF)
    assert verify_text_invariant(pages).count() == 0


def test_extract_versions_matches_local(spark):
    pages = synth_pages(spark, SF)
    got = extract_versions(pages).count()
    assert got == len(synth_pages_local(SF))


def test_synth_is_partition_independent(spark):
    a = synth_pages(spark, SF).orderBy("url", "warc_ts").collect()
    b = (
        synth_pages(spark, SF)
        .repartition(3)
        .orderBy("url", "warc_ts")
        .collect()
    )
    assert a == b


def test_native_extraction_matches_arrow_kernel(spark):
    from osm_wayback_spark.sources.extract import extract_versions_native

    pages = synth_pages(spark, SF)
    a = extract_versions(pages).orderBy("element_type", "id", "version").collect()
    b = (
        extract_versions_native(pages)
        .orderBy("element_type", "id", "version")
        .collect()
    )
    assert a == b


def _page_row(url, warc_ts, island_json, body="hello world"):
    import datetime

    html = (
        f"<html><body><p>{body}</p>"
        f'<script type="application/osm+json">{island_json}</script>'
        f"</body></html>"
    ).encode()
    return (url, datetime.datetime.fromisoformat(warc_ts), html, body, "en")


def test_multiline_island_native_matches_arrow(spark):
    """A pretty-printed (multi-line) JSON island must survive BOTH
    extraction paths — the JVM locate/substring_index pull must not
    stop at a newline."""
    from osm_wayback_spark.schemas import PAGES
    from osm_wayback_spark.sources.extract import extract_versions_native

    island = (
        '{\n  "element_type": "node",\n  "id": 1,\n  "version": 1,\n'
        '  "ts": 1000,\n  "changeset": 5,\n  "uid": 7,\n  "user": "a",\n'
        '  "visible": true,\n  "deleted": false,\n'
        '  "tags": {"k": "v"},\n  "lonlat": [1.5, 2.5]\n}'
    )
    pages = spark.createDataFrame(
        [_page_row("u://1", "2024-01-01T00:00:00", island)], schema=PAGES
    )
    a = extract_versions(pages).collect()
    b = extract_versions_native(pages).collect()
    assert len(a) == len(b) == 1
    assert a == b
    assert a[0].tags == {"k": "v"}


def test_dedup_versions_last_write_wins(spark):
    """Two crawls of the same (entity, version) keep only the later
    crawl's record (RocksDB put overwrite semantics)."""
    import json as _json

    from osm_wayback_spark.schemas import PAGES
    from osm_wayback_spark.sources.extract import (
        dedup_versions,
        extract_versions_native,
    )

    def isl(version, ts, tag):
        return _json.dumps(
            {
                "element_type": "node",
                "id": 9,
                "version": version,
                "ts": ts,
                "changeset": 1,
                "uid": 1,
                "user": "u",
                "visible": True,
                "deleted": False,
                "tags": {"crawl": tag},
                "lonlat": [0.0, 0.0],
            }
        )

    rows = [
        _page_row("u://9", "2024-01-01T00:00:00", isl(1, 100, "early")),
        _page_row("u://9", "2024-06-01T00:00:00", isl(1, 100, "late")),
        _page_row("u://9", "2024-01-02T00:00:00", isl(2, 200, "only")),
    ]
    pages = spark.createDataFrame(rows, schema=PAGES)
    out = dedup_versions(extract_versions_native(pages)).orderBy("version").collect()
    assert [r.version for r in out] == [1, 2]
    assert out[0].tags == {"crawl": "late"}  # max warc_ts wins
    assert "warc_ts" not in out[0].asDict()


def test_native_extraction_parses_each_island_once(spark, optimized_exprs):
    """The optimized plan holds one from_json and one regexp_extract:
    the validity filter must not be pushed below the parse, where it
    would re-evaluate the island chain and both parses per page.
    Counted over the expression trees of every plan node."""
    from osm_wayback_spark.sources.extract import extract_versions_native

    names = optimized_exprs(extract_versions_native(synth_pages(spark, SF)))
    assert names["JsonToStructs"] == 1, names
    assert names["RegExpExtract"] == 1, names


def test_native_matches_arrow_on_edge_case_pages(spark):
    """Off-the-happy-path pages: both kernels keep the same rows (only
    pages with a parseable island that names its element_type) and
    emit them identically."""
    import datetime
    import json as _json

    from osm_wayback_spark.schemas import PAGES
    from osm_wayback_spark.sources.extract import _MARK, extract_versions_native

    def isl(id_, **drop):
        rec = {
            "element_type": "node",
            "id": id_,
            "version": 1,
            "ts": 1000,
            "changeset": 5,
            "uid": 7,
            "user": "a",
            "visible": True,
            "deleted": False,
            "tags": {"k": "v"},
            "lonlat": [1.5, 2.5],
            "geometry": {"type": "Point", "coordinates": [1.5, 2.5]},
        }
        rec = {k: v for k, v in rec.items() if k not in drop}
        return _json.dumps(rec, separators=(",", ":"))

    htmls = [
        f"<p>a</p>{_MARK}{isl(1)}</script>",  # normal
        "<p>a</p>",  # no island
        f"<p>a</p>{_MARK}{isl(2)}",  # unterminated island
        f'{_MARK}{{"element_type":"node","id":3,</script>',  # malformed JSON
        f"{_MARK}{isl(4, element_type=1)}</script>",  # no element_type
        f"{_MARK}{isl(5, geometry=1)}</script>",  # no geometry
        f"{_MARK}{isl(6)}</script><p>b</p>{_MARK}{isl(7)}</script>",  # two
        None,  # null html
        f"{_MARK}</script>",  # empty island
        # a non-verbatim marker: both kernels need the exact bytes
        f"<p>x</p><SCRIPT id=geo type='application/osm+json' async>{isl(8)}</SCRIPT>",
    ]
    ts = datetime.datetime(2024, 1, 1)
    rows = [
        (f"u://{i}", ts, None if h is None else h.encode(), "a", "en")
        for i, h in enumerate(htmls)
    ]
    pages = spark.createDataFrame(rows, schema=PAGES)
    a = extract_versions(pages).orderBy("id").collect()
    b = extract_versions_native(pages).orderBy("id").collect()
    assert [r.id for r in b] == [1, 5, 6]
    assert b[1].geometry_json is None
    assert a == b
