"""GTFS CSV scan/sink and OSM XML scan (SURVEY §2.1 S1/S2/S3/S5/S6/S7)."""

import json
import os

from conftest import SF_DIR
from pfaedle_spark.sources import gtfs, osm

OSM_XML = """<?xml version="1.0"?>
<osm version="0.6">
  <node id="1" lat="48.0" lon="7.8"><tag k="railway" v="station"/><tag k="name" v="Hbf"/></node>
  <node id="2" lat="48.1" lon="7.9"/>
  <node id="3" lat="48.2" lon="7.7"><tag k="highway" v="bus_stop"/></node>
  <way id="10"><nd ref="1"/><nd ref="2"/><tag k="railway" v="rail"/></way>
  <way id="11"><nd ref="2"/><nd ref="3"/><tag k="highway" v="residential"/></way>
  <relation id="20"><member type="way" ref="10" role="outer"/>
    <tag k="type" v="route"/><tag k="route" v="train"/></relation>
</osm>
"""


def test_osm_scan(spark, tmp_path):
    p = tmp_path / "mini.osm"
    p.write_text(OSM_XML)
    tables = osm.read_osm(spark, str(p))
    nodes = {r.node_id: r for r in tables["nodes"].collect()}
    assert set(nodes) == {1, 2, 3}
    assert nodes[1].tags["railway"] == "station" and nodes[1].lat == 48.0
    ways = {r.way_id: r for r in tables["ways"].collect()}
    assert list(ways[10].nds) == [1, 2]
    rels = tables["relations"].collect()
    assert rels[0].rel_id == 20 and rels[0].members[0].ref == 10
    assert rels[0].tags["route"] == "train"


def test_osm_multi_shard_scan_matches_single_file(spark, tmp_path):
    """Planet-scale precondition made real: N shards ingested through
    the streamed iterparse reader produce IDENTICAL tables to the
    single-file parse (the reference's memory-frugal multi-pass scan,
    osm_builder.cpp:151-163, distributed as one shard per task)."""
    single = tmp_path / "all.osm"
    single.write_text(OSM_XML)

    shard_dir = tmp_path / "shards"
    shard_dir.mkdir()
    head = '<?xml version="1.0"?>\n<osm version="0.6">\n'
    body = [
        ln for ln in OSM_XML.splitlines()
        if not ln.startswith(("<?xml", "<osm", "</osm"))
    ]
    cut = len(body) // 2
    (shard_dir / "part0.osm").write_text(head + "\n".join(body[:cut]) + "\n</osm>\n")
    (shard_dir / "part1.osm").write_text(head + "\n".join(body[cut:]) + "\n</osm>\n")

    one = osm.read_osm(spark, str(single))
    many = osm.read_osm(spark, str(shard_dir))  # directory of shards
    globbed = osm.read_osm(spark, str(shard_dir / "part*.osm"))  # glob

    for t in ("nodes", "ways", "relations"):
        key = one[t].columns[0]
        a = sorted(map(str, one[t].collect()))
        b = sorted(map(str, many[t].collect()))
        c = sorted(map(str, globbed[t].collect()))
        assert a == b == c, t
        assert one[t].select(key).distinct().count() == many[t].count(), t


def test_osm_oversized_shard_fails_with_clear_error(spark, tmp_path):
    """An unsharded oversize input must fail actionably (pre-shard the
    planet), not OOM an executor holding the whole file."""
    import pytest

    p = tmp_path / "big.osm"
    p.write_text(OSM_XML)
    tables = osm.read_osm(spark, str(p), max_shard_bytes=64)
    with pytest.raises(Exception, match="max_shard_bytes"):
        tables["nodes"].collect()


def test_osm_keep_filter_and_sink(spark, tmp_path):
    p = tmp_path / "mini.osm"
    p.write_text(OSM_XML)
    tables = osm.read_osm(spark, str(p))
    out = str(tmp_path / "filtered")
    osm.filtered_osm_sink(tables["nodes"], tables["ways"], {"railway": ["*"]}, out)
    kept_ways = spark.read.parquet(f"{out}/ways").collect()
    kept_nodes = spark.read.parquet(f"{out}/nodes").collect()
    assert [w.way_id for w in kept_ways] == [10]
    assert sorted(n.node_id for n in kept_nodes) == [1, 2]


def test_gtfs_roundtrip(spark, tmp_path):
    feed = gtfs.synthetic_feed(spark, SF_DIR)
    fd = str(tmp_path / "feed")
    for name, df in feed.items():
        gtfs.write_table(df, fd, name)
    assert sorted(os.listdir(fd)) == sorted(
        f"{n}.txt"
        for n in ["stops", "trips", "stop_times"] + gtfs.PASS_THROUGH
    )

    back = gtfs.read_feed(spark, fd)
    assert set(back) == {"stops", "trips", "stop_times", *gtfs.PASS_THROUGH}
    # schema fidelity: optional columns present as typed nulls
    stops = back["stops"]
    assert [f.name for f in gtfs.SCHEMAS["stops"].fields] == stops.columns
    assert stops.count() == feed["stops"].count()
    # time parsing: fixed times parse to seconds-of-day
    st = back["stop_times"].select("arrival_s", "departure_s").first()
    assert (st.arrival_s, st.departure_s) == (8 * 3600, 8 * 3600 + 10)
    # value fidelity through the CSV round trip
    want = {r.stop_id: r.stop_name for r in feed["stops"].collect()}
    got = {r.stop_id: r.stop_name for r in stops.collect()}
    assert got == want


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_gtfs_pass_through_roundtrip_bit_identical(spark, tmp_path):
    """Every pass-through table (calendar .. feed_info) survives the
    fixed-header CSV sink + schema-aligned scan with identical rows and
    identical column order (feed.h:124-132; feed_writter.cpp:63-125)."""
    feed = gtfs.synthetic_feed(spark, SF_DIR)
    fd = str(tmp_path / "feed_pt")
    for name in gtfs.PASS_THROUGH:
        gtfs.write_table(feed[name], fd, name)
    back = gtfs.read_feed(spark, fd)
    for name in gtfs.PASS_THROUGH:
        assert back[name].columns == [
            f.name for f in gtfs.SCHEMAS[name].fields
        ], name
        assert _rows(back[name]) == _rows(feed[name]), name
        assert feed[name].count() > 0, name


def test_synthetic_feed_has_no_python_row_scan(spark):
    """Every synthetic feed table enters the plan as a file scan or an
    Arrow local relation: an ExistingRDD scan (``createDataFrame`` of a
    Python list) starts a Python worker pool to write a few rows."""
    for name, df in gtfs.synthetic_feed(spark, SF_DIR).items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, (name, plan)


def test_synthetic_feed_scans_documents_once(spark, tmp_path):
    """The point-derived feed tables read one cached scan of
    ``documents``: once ``synthetic_feed`` returns, every table is
    written with the file gone."""
    import shutil

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", sf / "documents.parquet")
    feed = gtfs.synthetic_feed(spark, str(sf))
    (sf / "documents.parquet").unlink()
    fd = str(tmp_path / "feed")
    for name, df in feed.items():
        gtfs.write_table(df, fd, name)
    assert sorted(os.listdir(fd)) == sorted(f"{n}.txt" for n in gtfs.INPUT_TABLES)


def test_gtfs_missing_optional_column(spark, tmp_path):
    fd = str(tmp_path / "feed2")
    os.makedirs(fd)
    with open(f"{fd}/stops.txt", "w") as f:
        f.write("stop_id,stop_lat,stop_lon\ns1,48.0,7.8\n")
    stops = gtfs.read_table(spark, fd, "stops")
    r = stops.first()
    assert r.stop_id == "s1" and r.stop_name is None and r.stop_lat == 48.0


def test_geojson_and_eval_sinks(spark, tmp_path):
    df = spark.createDataFrame(
        [(1.0, 2.0, 5.0), (3.0, 4.0, 25.0), (5.0, 6.0, 90.0)], "x double, y double, d_f double"
    )
    gj = json.loads(osm.geojson_sink(df, props=["d_f"]))
    assert len(gj["features"]) == 3
    assert gj["features"][0]["geometry"]["coordinates"] == [1.0, 2.0]
    out = str(tmp_path / "hist.csv")
    osm.eval_csv_sink(df, "d_f", [10.0, 50.0, 100.0], out)
    lines = open(out).read().strip().splitlines()
    assert lines[0] == "bin,n" and len(lines) == 4


def test_iceberg_source_fallback_contract(spark):
    """Iceberg-first image scan: with no catalog configured the parquet
    fallback serves the IDENTICAL (image_id, bytes, w, h, fmt, caption,
    phash) contract; catalog detection reads the session conf."""
    from pfaedle_spark import datagen
    from pfaedle_spark.sources import iceberg as ice

    assert ice.iceberg_catalogs(spark) == []  # no runtime jar here
    df = ice.read_images(spark, SF_DIR)
    assert [f.name for f in df.schema.fields] == [
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
    ]
    want = datagen.with_bytes(datagen.images(spark, SF_DIR))
    assert df.count() == want.count() > 0
    # the DDL the cluster deployment creates the table with
    assert "bucket(256, phash)" in ice.IMAGES_DDL and "USING iceberg" in ice.IMAGES_DDL


def test_iceberg_table_resolution_rules(spark, monkeypatch):
    """Identifier resolution: explicit conf/env beats detection;
    wrapper catalogs resolve via the impl-class allowlist; several
    catalogs refuse to guess."""
    from pfaedle_spark.sources import iceberg as ice

    # conf / env identifier wins without any catalog configured
    assert ice.configured_table(spark) is None
    monkeypatch.setenv(ice.TABLE_ENV_KEY, "lake.wh.images")
    assert ice.configured_table(spark) == "lake.wh.images"
    monkeypatch.delenv(ice.TABLE_ENV_KEY)

    # allowlist catches an Iceberg impl class without the substring
    class FakeConf:
        def getAll(self):
            return [
                ("spark.sql.catalog.lakeA", ice.KNOWN_ICEBERG_IMPLS[0]),
                ("spark.sql.catalog.lakeB.type", "hadoop"),  # sub-key: not a catalog
                ("spark.sql.catalog.plain", "com.example.HiveCatalog"),
            ]

    class FakeSC:
        def getConf(self):
            return FakeConf()

    class FakeSpark:
        sparkContext = FakeSC()

    assert ice.iceberg_catalogs(FakeSpark()) == ["lakeA"]

    class TwoCatConf(FakeConf):
        def getAll(self):
            return [
                ("spark.sql.catalog.lakeA", ice.KNOWN_ICEBERG_IMPLS[0]),
                ("spark.sql.catalog.lakeB", ice.KNOWN_ICEBERG_IMPLS[1]),
            ]

    class TwoSC:
        def getConf(self):
            return TwoCatConf()

    class TwoSpark:
        sparkContext = TwoSC()

        class conf:  # explicit conf unset
            @staticmethod
            def get(key, default=None):
                return default

    import pytest

    with pytest.raises(ValueError, match="multiple Iceberg catalogs"):
        ice.read_images(TwoSpark(), SF_DIR)


def test_overpass_query_sink(tmp_path):
    """S4 (osm_builder::overpass_query_write, osm_builder.cpp:241-327):
    merged keep rules x live boxes x entity types, with no_match_*
    flags suppressing their type, wildcard rules omitting v, degenerate
    boxes dropped, and the item/recurse-down/print closure."""
    import xml.etree.ElementTree as ET

    from pfaedle_spark import motconfig as MC
    from pfaedle_spark.sources import osm

    cfgs = MC.parse_cfg()
    use = [cfgs["rail"], cfgs["bus"]]  # bus has no filters: merge no-op
    boxes = [(47.0, 8.0, 48.0, 9.0), (50.0, 11.0, 51.0, 10.0)]  # 2nd w>e
    p = tmp_path / "query.xml"
    osm.write_overpass_query(str(p), use, boxes)
    root = ET.fromstring(p.read_text())
    assert root.tag == "osm-script"
    unions = root.findall("union")
    queries = unions[0].findall("query")

    merged: dict[str, set] = {}
    for cfg in use:
        for r in cfg.filters.get("osm_filter_keep", []):
            merged.setdefault(r.key, set()).add((r.val, frozenset(r.flags)))
    n_expected = sum(
        sum(
            1
            for t in (MC.WAY, MC.NODE, MC.RELATION)
            if MC._KIND_FLAG[t] not in flags
        )
        for vals in merged.values()
        for _, flags in vals
    )
    assert len(queries) == n_expected > 0  # exactly one LIVE box
    for q in queries:
        kv, bb = q.find("has-kv"), q.find("bbox-query")
        assert kv is not None and kv.get("k")
        # box attrs come from the single live box
        assert [bb.get(a) for a in "swne"] == ["47.0", "8.0", "48.0", "9.0"]
    # closure union + print (overpass recurse-down pulls way/rel members)
    assert unions[1].find("item") is not None
    assert unions[1].find("recurse").get("type") == "down"
    assert root.find("print") is not None

    # pin the flag-skip + wildcard-v behavior with a synthetic rule
    syn = MC.MotConfig(
        filters={
            "osm_filter_keep": [
                MC.FilterRule(key="railway", val="*", flags={"no_match_ways"})
            ]
        }
    )
    r2 = ET.fromstring(osm.overpass_query_xml([syn], [(1.0, 2.0, 3.0, 4.0)]))
    qs2 = r2.find("union").findall("query")
    assert sorted(q.get("type") for q in qs2) == ["node", "relation"]
    assert all(q.find("has-kv").get("v") is None for q in qs2)
