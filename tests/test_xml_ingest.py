"""Golden-file tests for the MediaWiki XML ingestion slice (SURVEY §5.2,
FIXTURES.md §2) — the reference's own capability surface."""

from __future__ import annotations

from conftest import FIXTURES

from wikipedia_org_xmldump_importer_spark.sources.xml_pages import (
    filter_namespace,
    flatten_contributors,
    flatten_pages,
    flatten_revisions,
    flatten_text,
    import_dump,
    scan_xml_pages,
)


def test_basic_page(spark):
    pages = scan_xml_pages(spark, str(FIXTURES / "basic_page.xml"))
    row = pages.collect()[0]
    assert row.id == 101
    assert row.ns == 0
    assert row.title == "Apache Spark"
    assert row.redirect is None
    rev = row.revision[0]
    assert rev.id == 5001
    assert rev.parentid == 4990
    assert rev.contributor.username == "DataEngineer"
    assert rev.contributor.id == 777
    assert rev.contributor.ip is None
    assert rev.text._VALUE == "Apache Spark is a distributed engine."
    assert rev.text._bytes == 43
    assert rev.timestamp.year == 2024


def test_redirect_anon_minor(spark):
    pages = scan_xml_pages(spark, str(FIXTURES / "redirect_anon.xml"))
    flat = flatten_pages(pages).orderBy("page_id").collect()
    assert [r.page_id for r in flat] == [102, 103]
    assert flat[0].page_is_redirect is True
    assert flat[0].redirect_title == "Apache Spark"
    assert flat[1].page_is_redirect is False

    contrib = {r.rev_id: r for r in flatten_contributors(pages).collect()}
    assert contrib[5002].user_ip == "192.0.2.55"
    assert contrib[5002].is_anonymous is True
    assert contrib[5002].user_name is None
    assert contrib[5003].user_name == "Reviewer"
    assert contrib[5003].is_anonymous is False

    revs = {r.rev_id: r for r in flatten_revisions(pages).collect()}
    assert revs[5002].rev_minor is True
    assert revs[5003].rev_minor is False


def test_namespace_filter(spark):
    pages = scan_xml_pages(spark, str(FIXTURES / "redirect_anon.xml"))
    articles = filter_namespace(pages, 0, drop_redirects=True)
    assert articles.count() == 0  # only page in ns 0 is a redirect
    with_redirects = filter_namespace(pages, 0, drop_redirects=False)
    assert [r.id for r in with_redirects.collect()] == [102]


def test_multi_revision_explode_order(spark):
    pages = scan_xml_pages(spark, str(FIXTURES / "multi_revision.xml"))
    revs = flatten_revisions(pages).orderBy("rev_seq").collect()
    assert [r.rev_id for r in revs] == [6001, 6002, 6003]
    assert [r.rev_seq for r in revs] == [0, 1, 2]
    assert revs[0].rev_parent_id is None
    assert revs[2].rev_parent_id == 6002
    page = flatten_pages(pages).collect()[0]
    assert page.page_latest == 6003
    assert page.page_len == 26


def test_empty_optionals_and_deleted_text(spark):
    pages = scan_xml_pages(spark, str(FIXTURES / "empty_optionals.xml"))
    revs = flatten_revisions(pages).collect()
    assert revs[0].rev_comment is None
    assert revs[0].rev_parent_id is None
    assert revs[0].rev_sha1 is None
    text = flatten_text(pages).collect()[0]
    assert text.content is None
    assert text.content_deleted is True


def test_import_dump_end_to_end(spark, tmp_path):
    out = import_dump(
        spark,
        str(FIXTURES / "multi_revision.xml"),
        str(tmp_path / "imported"),
        namespace=0,
    )
    assert set(out) == {"page", "revision", "contributor", "text"}
    reread = spark.read.parquet(str(tmp_path / "imported" / "revision.parquet"))
    assert reread.count() == 3


def test_meta_schema_prunes_text_payload(spark):
    """Catalyst's nestedSchemaPruning is Parquet/ORC-only — for XML the
    pruning must live in the read schema. include_text=False must drop
    revision.text._VALUE while keeping the _bytes/_deleted attributes, and
    the page flatten must produce identical rows either way."""
    import re

    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    full = scan_xml_pages(spark, str(FIXTURES / "multi_revision.xml"))
    meta = scan_xml_pages(
        spark, str(FIXTURES / "multi_revision.xml"), include_text=False
    )
    physical = flatten_pages(meta)._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"ReadSchema: (struct<.*>)", physical)
    assert m, physical
    assert "_VALUE" not in m.group(1)
    assert "_bytes" in m.group(1)
    assert sorted(map(tuple, flatten_pages(meta).collect())) == sorted(
        map(tuple, flatten_pages(full).collect())
    )


def test_import_dump_meta_only_skips_text(spark, tmp_path):
    out = import_dump(
        spark,
        str(FIXTURES / "multi_revision.xml"),
        str(tmp_path / "meta_imported"),
        namespace=0,
        tables=("page", "revision", "contributor"),
    )
    assert set(out) == {"page", "revision", "contributor"}
    reread = spark.read.parquet(str(tmp_path / "meta_imported" / "revision.parquet"))
    assert reread.count() == 3


def test_synthetic_dump_generator_roundtrip(spark, tmp_path):
    """The bench generator's dump must parse under the pinned PAGE_SCHEMA
    with every page accounted for (the bench's own precondition)."""
    from tools.bench_xml import generate_dump

    gen = generate_dump(str(tmp_path / "synth"), total_mb=1.0, n_files=2)
    pages = scan_xml_pages(spark, str(tmp_path / "synth"))
    assert pages.count() == gen["pages"]
    assert pages.filter("id IS NULL OR title IS NULL").count() == 0
    rev_rows = flatten_revisions(pages)
    assert rev_rows.filter("rev_timestamp IS NULL").count() == 0


def test_column_pruning_drops_revision_payload(spark):
    """A scan that only needs id/title must not read the revision payload
    (SURVEY §4.2 — at 100 TB the text blobs dominate the dump)."""
    pages = scan_xml_pages(spark, str(FIXTURES / "multi_revision.xml"))
    physical = (
        pages.select("id", "title")._jdf.queryExecution().executedPlan().toString()
    )
    import re

    m = re.search(r"ReadSchema: (struct<[^>]*>)", physical)
    assert m, physical
    assert m.group(1) == "struct<id:bigint,title:string>"


def test_siteinfo_scan_and_namespace_dim(spark):
    """s8: the dump header parses under the pinned SITEINFO_SCHEMA and
    flattens into the namespace dimension; the main namespace keeps its
    wire-format NULL name."""
    from wikipedia_org_xmldump_importer_spark.sources.xml_pages import (
        namespaces_dim,
        scan_xml_siteinfo,
    )

    si = scan_xml_siteinfo(spark, str(FIXTURES / "siteinfo_dump.xml"))
    row = si.collect()[0]
    assert row["sitename"] == "Testpedia"
    assert row["dbname"] == "testwiki"
    ns = {r["ns_key"]: r for r in namespaces_dim(si).collect()}
    assert set(ns) == {-1, 0, 1, 2, 14}
    assert ns[0]["ns_name"] is None
    assert ns[1]["ns_name"] == "Talk"
    assert ns[14]["ns_case"] == "first-letter"


def test_resolve_namespaces_broadcasts_dim(spark):
    """Pages x namespace-names join must broadcast the dim (the page scan
    never shuffles) and label every page."""
    from wikipedia_org_xmldump_importer_spark.plans.inspect import (
        has_broadcast_hash_join,
    )
    from wikipedia_org_xmldump_importer_spark.sources.xml_pages import (
        namespaces_dim,
        resolve_namespaces,
        scan_xml_siteinfo,
    )

    path = str(FIXTURES / "siteinfo_dump.xml")
    pages = scan_xml_pages(spark, path)
    labeled = resolve_namespaces(
        pages, namespaces_dim(scan_xml_siteinfo(spark, path))
    )
    assert has_broadcast_hash_join(labeled)
    got = {r["title"]: r["ns_name"] for r in labeled.collect()}
    assert got == {
        "Main Article": None,
        "Talk:Main Article": "Talk",
        "Category:Things": "Category",
    }


def test_multi_dump_lake_resolves_namespaces_per_wiki(tmp_path, spark):
    """Mixed-wiki dump directory (NOTES.md round-4 item): namespace ids are
    wiki-local, so resolution must join on (dump_id, ns) — an en page with
    ns=1 gets 'Talk', a de page with ns=1 gets 'Diskussion', never
    crossed."""
    import shutil

    from wikipedia_org_xmldump_importer_spark.plans.inspect import (
        has_broadcast_hash_join,
    )
    from wikipedia_org_xmldump_importer_spark.sources.xml_pages import (
        namespaces_dim,
        resolve_namespaces,
        scan_xml_siteinfo,
    )

    lake = tmp_path / "lake"
    lake.mkdir()
    shutil.copy(FIXTURES / "siteinfo_dump.xml", lake / "enwiki.xml")
    shutil.copy(FIXTURES / "siteinfo_dump_de.xml", lake / "dewiki.xml")

    pages = scan_xml_pages(spark, str(lake), with_dump_id=True)
    dim = namespaces_dim(scan_xml_siteinfo(spark, str(lake), with_dump_id=True))
    # one header per file, each with its own namespace map
    assert dim.select("dump_id").distinct().count() == 2
    labeled = resolve_namespaces(pages, dim)
    assert has_broadcast_hash_join(labeled)
    got = {r["title"]: r["ns_name"] for r in labeled.collect()}
    assert got["Talk:Main Article"] == "Talk"
    assert got["Diskussion:Hauptartikel"] == "Diskussion"
    assert got["Category:Things"] == "Category"
    assert got["Main Article"] is None and got["Hauptartikel"] is None
    # every page labeled exactly once (the per-dump join can't fan out)
    assert labeled.count() == pages.count() == 5


def test_incremental_dump_merge_upsert(spark):
    """The reference class's incremental-dump story end-to-end: a base dump
    snapshot merged with an adds-changes delta dump via the distributed
    SCD1 merge (operators/merge.py) — page 101 is superseded by its newer
    revision, page 104 is a fresh insert, nothing else is touched."""
    from wikipedia_org_xmldump_importer_spark.operators.merge import merge_upsert

    base = flatten_pages(scan_xml_pages(spark, str(FIXTURES / "basic_page.xml")))
    delta = flatten_pages(
        scan_xml_pages(spark, str(FIXTURES / "incremental_delta.xml"))
    )
    merged = merge_upsert(base, delta, keys=["page_id"])
    rows = {r.page_id: r for r in merged.collect()}

    assert set(rows) == {101, 104}
    assert rows[101].action == "update"
    assert rows[101].page_latest == 5099  # delta's newer revision wins
    assert rows[101].page_len == 71
    assert rows[104].action == "insert"
    assert rows[104].page_title == "Catalyst Optimizer"
    assert rows[104].page_latest == 5100


def test_extract_wikilinks(spark):
    from wikipedia_org_xmldump_importer_spark.sources.xml_pages import (
        extract_wikilinks,
    )

    pages = scan_xml_pages(spark, str(FIXTURES / "wikilinks.xml"))
    links = {
        (r.from_page_id, r.to_title): r.n_occurrences
        for r in extract_wikilinks(pages).collect()
    }
    # piped, underscored and section links all normalize to the bare title
    assert links[(201, "Catalyst (software)")] == 2  # plain + #Section form
    assert links[(201, "Tungsten engine")] == 1  # underscore -> space
    assert links[(201, "Hadoop")] == 1
    # duplicates collapse into the count; LATEST revision only (the
    # vandalized middle revision of 202 has no links and must not matter)
    assert links[(202, "Apache Spark")] == 2
    # redirect pages link to their target via the #REDIRECT body text
    assert links[(203, "Spark (cluster computing)")] == 1
    assert (205, "Loop B") in links
    # labels never leak into targets
    assert all("|" not in t and "#" not in t for (_, t) in links)


def test_resolve_redirect_chains(spark):
    from wikipedia_org_xmldump_importer_spark.sources.xml_pages import (
        resolve_redirect_chains,
    )

    pages = scan_xml_pages(spark, str(FIXTURES / "wikilinks.xml"))
    rows = {r.title: r for r in resolve_redirect_chains(pages).collect()}
    # only redirect pages appear
    assert set(rows) == {"Spark", "Spark (cluster computing)", "Loop A", "Loop B"}
    # two-hop chain resolves through the intermediate redirect
    assert rows["Spark"].final_title == "Apache Spark"
    assert rows["Spark"].hops == 2
    assert rows["Spark"].status == "resolved"
    assert rows["Spark"].first_target == "Spark (cluster computing)"
    # one-hop tail of the same chain
    assert rows["Spark (cluster computing)"].final_title == "Apache Spark"
    assert rows["Spark (cluster computing)"].hops == 1
    assert rows["Spark (cluster computing)"].status == "resolved"
    # a 2-cycle never resolves and is flagged, not chased forever
    assert rows["Loop A"].status == "cycle"
    assert rows["Loop B"].status == "cycle"


def test_resolve_redirect_dangling(spark):
    from wikipedia_org_xmldump_importer_spark.sources.xml_pages import (
        resolve_redirect_chains,
    )

    # redirect_anon.xml's "Spark" redirects to "Apache Spark", which does
    # NOT exist as a page in that dump -> dangling
    pages = scan_xml_pages(spark, str(FIXTURES / "redirect_anon.xml"))
    [row] = resolve_redirect_chains(pages).collect()
    assert row.title == "Spark"
    assert row.final_title == "Apache Spark"
    assert row.status == "dangling"


def test_revision_deltas_and_reverts(spark):
    from wikipedia_org_xmldump_importer_spark.sources.xml_pages import (
        revision_deltas,
    )

    pages = scan_xml_pages(spark, str(FIXTURES / "wikilinks.xml"))
    rows = {r.rev_id: r for r in revision_deltas(pages).collect()}
    # page 202: 60 bytes -> 20 (vandalism) -> 60 (revert to sha1 s2)
    assert rows[7002].byte_delta is None  # first revision has no parent
    assert rows[7003].byte_delta == 20 - 60
    assert rows[7004].byte_delta == 60 - 20
    assert rows[7002].is_identity_revert is False
    assert rows[7003].is_identity_revert is False
    assert rows[7004].is_identity_revert is True  # sha1 s2 seen at rev 7002
    # single-revision pages are never reverts
    assert rows[7001].is_identity_revert is False


def test_revision_deltas_multi_revision_fixture(spark):
    from wikipedia_org_xmldump_importer_spark.sources.xml_pages import (
        revision_deltas,
    )

    pages = scan_xml_pages(spark, str(FIXTURES / "multi_revision.xml"))
    rows = sorted(
        revision_deltas(pages).collect(), key=lambda r: r.rev_seq
    )
    assert [r.byte_delta for r in rows] == [None, 13, 8]
    assert not any(r.is_identity_revert for r in rows)


def test_import_dump_full_end_to_end(spark, tmp_path):
    """r8 verdict task 6: the flagship pipeline as ONE call — dump ->
    page/revision/contributor/text -> wikilink graph -> redirect
    resolution -> resolved link graph -> parquet + Derby JDBC sinks."""
    from wikipedia_org_xmldump_importer_spark.sources.xml_pages import (
        import_dump_full,
    )

    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    try:
        spark._jvm.java.lang.Class.forName(driver)
        url = "jdbc:derby:memory:fullimport;create=true"
        props = {"driver": driver}
    except Exception:  # noqa: BLE001
        url, props = None, None

    out = import_dump_full(
        spark,
        str(FIXTURES / "wikilinks.xml"),
        str(tmp_path / "lake"),
        jdbc_url=url,
        jdbc_properties=props,
    )
    assert set(out) == {
        "page",
        "revision",
        "contributor",
        "text",
        "pagelinks",
        "redirect",
        "pagelinks_resolved",
    }
    # every table landed in parquet, reads back with the same count, and
    # the returned frame is that parquet read back (the lake is the sink
    # of record, nothing upstream of it is recomputed)
    for name, df in out.items():
        lake = tmp_path / "lake" / f"{name}.parquet"
        back = spark.read.parquet(str(lake))
        assert back.count() == df.count(), name
        files = df.inputFiles()
        assert files, name
        for f in files:
            assert f.startswith(lake.as_uri() + "/"), (name, f)

    # golden: the two-hop chain Spark -> Spark (cluster computing) ->
    # Apache Spark rewrites the link target through the redirect table
    resolved = {
        (r.from_page_id, r.to_title_resolved): r.n_occurrences
        for r in out["pagelinks_resolved"].collect()
    }
    # page 203 ("Spark") links to "Spark (cluster computing)" which is
    # itself a redirect to "Apache Spark" -> resolves all the way
    assert resolved[(203, "Apache Spark")] == 1
    assert (203, "Spark (cluster computing)") not in resolved
    # non-redirect targets pass through untouched
    assert resolved[(201, "Hadoop")] == 1
    # cycle targets stay unresolved (status != resolved keeps raw title)
    assert resolved[(205, "Loop B")] == 1
    # raw pagelinks grain is preserved upstream
    raw = {
        (r.from_page_id, r.to_title): r.n_occurrences
        for r in out["pagelinks"].collect()
    }
    assert raw[(203, "Spark (cluster computing)")] == 1

    if url is not None:
        # each JDBC table holds exactly the rows of its parquet twin
        for name in ("page", "redirect", "pagelinks_resolved"):
            jdbc_back = (
                spark.read.format("jdbc")
                .option("url", url)
                .option("dbtable", f"wiki_{name}")
                .option("driver", driver)
                .load()
            )
            got = {tuple(r) for r in jdbc_back.collect()}
            assert got == {tuple(r) for r in out[name].collect()}, (
                f"JDBC wiki_{name} diverged from its parquet twin"
            )


def _cached_rdd_ids(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_imports_release_page_cache(spark, tmp_path):
    """Both imports cache the parsed pages for their sinks and must release
    them before returning: the storage holds nothing the call added."""
    from wikipedia_org_xmldump_importer_spark.sources.xml_pages import (
        import_dump_full,
    )

    spark.catalog.clearCache()
    # RDDs other tests persisted outside the catalog (localCheckpoint)
    before = _cached_rdd_ids(spark)
    src = str(FIXTURES / "wikilinks.xml")
    import_dump(spark, src, str(tmp_path / "plain"), namespace=None)
    assert _cached_rdd_ids(spark) == before, "import_dump left pages cached"
    import_dump_full(spark, src, str(tmp_path / "full"))
    assert _cached_rdd_ids(spark) == before, "import_dump_full left pages cached"


def test_import_dump_full_sink_failure_raises(spark, tmp_path):
    """A sink failing in its worker thread raises from import_dump_full —
    here a JDBC URL to an in-memory Derby database that does not exist (no
    ``;create=true``) — and the page cache is still released."""
    import pytest

    from wikipedia_org_xmldump_importer_spark.sources.xml_pages import (
        import_dump_full,
    )

    spark.catalog.clearCache()
    before = _cached_rdd_ids(spark)
    with pytest.raises(Exception, match="nosuchdb"):
        import_dump_full(
            spark,
            str(FIXTURES / "wikilinks.xml"),
            str(tmp_path / "lake"),
            jdbc_url="jdbc:derby:memory:nosuchdb",
            jdbc_properties={"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
        )
    assert _cached_rdd_ids(spark) == before
    # the independent parquet sinks still completed
    assert spark.read.parquet(str(tmp_path / "lake" / "text.parquet")).count() > 0


def test_import_dump_full_keeps_callers_job_group(spark, tmp_path):
    """Sink jobs run in worker threads but under the caller's job group, so
    ``cancelJobGroup`` on that group reaches every one of them."""
    from wikipedia_org_xmldump_importer_spark.sources.xml_pages import (
        import_dump_full,
    )

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("import-under-test", "import_dump_full job group test")
    try:
        out = import_dump_full(
            spark, str(FIXTURES / "wikilinks.xml"), str(tmp_path / "lake")
        )
    finally:
        sc._jsc.clearJobGroup()
    grouped = tracker.getJobIdsForGroup("import-under-test")
    # at least one job per parquet sink, and no job escaped the group
    assert len(grouped) >= len(out)
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


def test_stream_import_dump_incremental_matches_batch(spark, tmp_path):
    """s13: two dump files arriving in SEPARATE micro-batches must produce
    exactly the tables a one-shot batch import of both files produces —
    the stream==batch contract, plus exactly-once across a second
    availableNow drain (no new files => no new rows)."""
    import shutil

    from wikipedia_org_xmldump_importer_spark.sources.xml_pages import (
        extract_wikilinks,
        flatten_revisions,
        scan_xml_pages,
        stream_import_dump,
    )

    land = tmp_path / "landing"
    lake = tmp_path / "lake"
    land.mkdir()

    def drain():
        q = stream_import_dump(
            spark, str(land), str(lake), include_links=True
        )
        q.awaitTermination(120)

    # arrival 1
    shutil.copy(FIXTURES / "wikilinks.xml", land / "d1.xml")
    drain()
    n_rev_1 = spark.read.parquet(str(lake / "revision.parquet")).count()
    assert n_rev_1 > 0

    # arrival 2 — a different dump lands later
    shutil.copy(FIXTURES / "multi_revision.xml", land / "d2.xml")
    drain()

    # idempotent re-drain: nothing new arrived, nothing must be appended
    drain()

    batch = scan_xml_pages(spark, str(land))
    got_rev = spark.read.parquet(str(lake / "revision.parquet"))
    want_rev = flatten_revisions(batch)
    assert got_rev.count() == want_rev.count()
    assert (
        sorted(r.rev_id for r in got_rev.collect())
        == sorted(r.rev_id for r in want_rev.collect())
    )
    got_pages = spark.read.parquet(str(lake / "page.parquet"))
    assert sorted(r.page_id for r in got_pages.collect()) == sorted(
        r.id for r in batch.collect()
    )
    # link extraction ran per batch; grain (page, target) never crosses
    # files, so the union equals the batch extraction exactly
    got_links = {
        (r.from_page_id, r.to_title): r.n_occurrences
        for r in spark.read.parquet(str(lake / "pagelinks.parquet")).collect()
    }
    want_links = {
        (r.from_page_id, r.to_title): r.n_occurrences
        for r in extract_wikilinks(batch).collect()
    }
    assert got_links == want_links
