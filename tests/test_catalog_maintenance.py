"""ManifestTable time travel, compaction, snapshot expiry, and their
interaction with the resumable extraction job (Iceberg maintenance analog:
at 10^12 docs a commit-per-batch table accumulates millions of small files
— compaction + expiry is what keeps reads O(view), not O(history))."""

import glob
import os

import pytest

from ocr_spark.sources.catalog import ManifestTable


def _mk(spark, tmp_path, n_commits=3, rows_per=4):
    tbl = ManifestTable(str(tmp_path / "tbl"))
    for c in range(n_commits):
        df = spark.createDataFrame(
            [(c * 100 + i, f"v{c}_{i}") for i in range(rows_per)], "id long, v string"
        )
        tbl.append(df, c)
    return tbl


def _ids(spark, df):
    return sorted(r.id for r in df.collect())


def test_time_travel_as_of(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    assert len(_ids(spark, tbl.read(spark))) == 12
    assert _ids(spark, tbl.read(spark, as_of=0)) == [0, 1, 2, 3]
    assert len(_ids(spark, tbl.read(spark, as_of=1))) == 8
    assert tbl.read(spark, as_of=-1) is None


def test_compact_preserves_rows_and_reduces_files(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    before = _ids(spark, tbl.read(spark))
    files_before = glob.glob(f"{tbl.data_dir}/commit=*/*.parquet")
    cid = tbl.compact(spark, target_partitions=1)
    assert cid == 3
    after = _ids(spark, tbl.read(spark))
    assert after == before
    # current view is served by exactly one data file
    vis = tbl._visible(tbl.snapshots)
    assert len(vis) == 1 and vis[0]["commit_id"] == 3
    files_now = glob.glob(f"{vis[0]['path']}/*.parquet")
    assert len(files_now) == 1 < len(files_before)


def test_compact_keeps_time_travel_until_expire(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.compact(spark)
    # pre-compaction snapshots still readable (replacing entry is outside
    # the as_of window, so the originals resolve)
    assert _ids(spark, tbl.read(spark, as_of=0)) == [0, 1, 2, 3]
    assert len(_ids(spark, tbl.read(spark, as_of=2))) == 12
    expired = tbl.expire()
    assert expired == [0, 1, 2]
    # current view intact; history gone (both manifest and directories)
    assert len(_ids(spark, tbl.read(spark))) == 12
    assert tbl.read(spark, as_of=0) is None
    assert not os.path.isdir(os.path.join(tbl.data_dir, "commit=0"))


def test_compact_noop_on_single_commit(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "tbl"))
    tbl.append(spark.createDataFrame([(1, "a")], "id long, v string"), 0)
    assert tbl.compact(spark) is None
    assert tbl.expire() == []
    assert _ids(spark, tbl.read(spark)) == [1]


def test_double_compact_folds_again(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.compact(spark)
    tbl.append(
        spark.createDataFrame([(999, "late")], "id long, v string"), 4
    )
    cid = tbl.compact(spark)
    assert cid == 5
    assert len(_ids(spark, tbl.read(spark))) == 13
    vis = tbl._visible(tbl.snapshots)
    assert [s["commit_id"] for s in vis] == [5]


def test_job_resume_survives_compaction(spark, tmp_path):
    """compact+expire BOTH tables, then re-run the job: the anti-join must
    still see every done url (zero re-extraction), and the output must
    stay golden."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.pipeline import run_extract_job
    from ocr_spark.sources.pages import pages_df

    out_root = str(tmp_path / "wh")
    pages = pages_df(spark, "/root/testdata/sf0.001")
    # two real commits: first half by hash, then the rest
    first = pages.where(F.crc32("url") % 2 == 0)
    c0, m0 = run_extract_job(spark, first, out_root)
    c1, m1 = run_extract_job(spark, pages, out_root)
    assert m0["docs"] + m1["docs"] == 500

    for name in ("extracted", "lineage"):
        tbl = ManifestTable(f"{out_root}/{name}")
        cid = tbl.compact(spark, target_partitions=2)
        assert cid is not None
        tbl.expire()

    c2, m2 = run_extract_job(spark, pages, out_root)
    assert m2["docs"] == 0  # nothing re-extracted
    exp = pages_df(spark, "/root/testdata/sf0.001", with_expected=True).select(
        "url", "expected_text"
    )
    j = ManifestTable(f"{out_root}/extracted").read(spark).join(exp, "url")
    assert j.count() == 500
    assert j.filter(F.col("text") == F.col("expected_text")).count() == 500


def test_reconciliation_never_rolls_back_compaction(spark, tmp_path):
    """Crash window: extracted was compacted+expired but lineage was NOT
    yet compacted. The start-of-job reconciliation must not roll back the
    compaction entry (its id is missing from lineage ids by construction)
    — doing so after expiry would silently lose every row."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.pipeline import run_extract_job
    from ocr_spark.sources.pages import pages_df

    out_root = str(tmp_path / "wh")
    pages = pages_df(spark, "/root/testdata/sf0.001")
    run_extract_job(spark, pages.where(F.crc32("url") % 2 == 0), out_root)
    run_extract_job(spark, pages, out_root)

    out_tbl = ManifestTable(f"{out_root}/extracted")
    out_tbl.compact(spark)
    out_tbl.expire()
    # lineage untouched: simulates dying between the two maintenance steps

    _, m = run_extract_job(spark, pages, out_root)
    assert m["docs"] == 0
    assert out_tbl.read(spark).count() == 500


def test_merge_upserts_and_prunes_untouched_commits(spark, tmp_path):
    tbl = _mk(spark, tmp_path)  # commits 0,1,2 with ids 0..3,100..103,200..203
    before = {s["commit_id"]: s["path"] for s in tbl.snapshots}
    upd = spark.createDataFrame(
        [(101, "UPDATED"), (999, "INSERTED")], "id long, v string"
    )
    cid = tbl.merge(spark, upd, key="id")
    assert cid == 3
    cur = {r.id: r.v for r in tbl.read(spark).collect()}
    assert cur[101] == "UPDATED" and cur[999] == "INSERTED"
    assert cur[100] == "v1_0" and cur[0] == "v0_0"  # untouched rows survive
    assert len(cur) == 13  # 12 original + 1 insert
    # copy-on-write pruning: only commit 1 (which held id=101) was replaced
    entry = next(s for s in tbl.snapshots if s["commit_id"] == cid)
    assert entry["replaces"] == [1]
    # untouched commits keep their exact files
    after = {s["commit_id"]: s["path"] for s in tbl.snapshots}
    assert after[0] == before[0] and after[2] == before[2]


def test_merge_time_travel_sees_premerge_rows(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    upd = spark.createDataFrame([(101, "UPDATED")], "id long, v string")
    cid = tbl.merge(spark, upd, key="id")
    old = {r.id: r.v for r in tbl.read(spark, as_of=cid - 1).collect()}
    assert old[101] == "v1_1"
    expired = tbl.expire()
    assert 1 in expired  # the replaced commit goes when history is dropped
    assert {r.id: r.v for r in tbl.read(spark).collect()}[101] == "UPDATED"


def test_merge_pure_insert_replaces_nothing(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    upd = spark.createDataFrame([(999, "NEW")], "id long, v string")
    cid = tbl.merge(spark, upd, key="id")
    entry = next(s for s in tbl.snapshots if s["commit_id"] == cid)
    assert entry["replaces"] == []
    assert tbl.read(spark).count() == 13


def test_read_changes_incremental_appends(spark, tmp_path):
    """Incremental scan: exactly the rows of commits in (since, until],
    consumed once per window — the downstream-pipeline contract."""
    tbl = _mk(spark, tmp_path)  # commits 0,1,2
    assert _ids(spark, tbl.read_changes(spark, since=-1)) == _ids(spark, tbl.read(spark))
    assert _ids(spark, tbl.read_changes(spark, since=0)) == [
        100, 101, 102, 103, 200, 201, 202, 203
    ]
    assert _ids(spark, tbl.read_changes(spark, since=0, until=1)) == [100, 101, 102, 103]
    assert tbl.read_changes(spark, since=2) is None
    # windows tile: (since=-1,until=1] + (1,2] == full table, no overlap
    a = _ids(spark, tbl.read_changes(spark, since=-1, until=1))
    b = _ids(spark, tbl.read_changes(spark, since=1, until=2))
    assert sorted(a + b) == _ids(spark, tbl.read(spark))


def test_read_changes_skips_compaction_rewrites(spark, tmp_path):
    """A compaction inside the window must not double-count rewritten rows;
    appends after it still stream."""
    tbl = _mk(spark, tmp_path)
    cid = tbl.compact(spark)
    df = spark.createDataFrame([(900 + i, f"n{i}") for i in range(2)], "id long, v string")
    tbl.append(df)
    # window spans the compaction: only the post-compaction append shows
    assert _ids(spark, tbl.read_changes(spark, since=2)) == [900, 901]
    # window of ONLY the compaction: nothing was added
    assert tbl.read_changes(spark, since=2, until=cid) is None


def test_read_changes_refuses_merge_overwrites(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    upd = spark.createDataFrame([(100, "updated")], "id long, v string")
    tbl.merge(spark, upd, key="id")
    with pytest.raises(ValueError, match="overwrite"):
        tbl.read_changes(spark, since=2)
    # a window that ends before the merge is still consumable
    assert _ids(spark, tbl.read_changes(spark, since=1, until=2)) == [200, 201, 202, 203]


def test_schema_evolution_add_column(spark, tmp_path):
    """Iceberg additive evolution: a commit with a NEW column joins the
    table; pre-evolution rows read the column as NULL; compaction keeps
    the union schema."""
    tbl = ManifestTable(str(tmp_path / "evo"))
    tbl.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    tbl.append(
        spark.createDataFrame([(3, "c", "en")], "id long, v string, lang string")
    )
    df = tbl.read(spark)
    assert set(df.columns) == {"id", "v", "lang"}
    rows = {r.id: r.lang for r in df.collect()}
    assert rows == {1: None, 2: None, 3: "en"}
    # time travel to the pre-evolution snapshot keeps the OLD schema
    assert set(tbl.read(spark, as_of=0).columns) == {"id", "v"}
    # compaction preserves the union schema and the NULL backfill
    tbl.compact(spark)
    df2 = tbl.read(spark)
    assert set(df2.columns) == {"id", "v", "lang"}
    assert {r.id: r.lang for r in df2.collect()} == rows
    # incremental scan across the evolution boundary merges too
    inc = tbl.read_changes(spark, since=-1, until=1)
    assert set(inc.columns) == {"id", "v", "lang"}


def test_read_with_stored_schemas_runs_no_job(spark, tmp_path):
    """Every entry stores its frame's schema, so a read over two commits,
    with an added column, scans no file footer: zero Spark jobs."""
    tbl = ManifestTable(str(tmp_path / "sch"))
    tbl.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    tbl.append(spark.createDataFrame([(2, "b", "en")], "id long, v string, lang string"))
    assert all("schema" in s for s in tbl.snapshots)
    sc = spark.sparkContext
    group = "catalog-read"
    sc.setJobGroup(group, "ManifestTable.read over two commits")
    try:
        df = tbl.read(spark)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == 0
    assert df.columns == ["id", "v", "lang"]
    assert sorted(map(tuple, df.collect())) == [(1, "a", None), (2, "b", "en")]


def test_legacy_entry_without_schema_still_reads(spark, tmp_path):
    """An entry written before entries stored their schema reads from its
    footers, alone and merged with entries that store one."""
    tbl = ManifestTable(str(tmp_path / "legacy"))
    tbl.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    manifest = tbl.snapshots
    del manifest[0]["schema"]
    tbl._save_manifest(manifest)

    alone = tbl.read(spark)
    assert sorted(alone.columns) == ["id", "v"]
    assert sorted(map(tuple, alone.collect())) == [(1, "a"), (2, "b")]

    tbl.append(spark.createDataFrame([(3, "c", "en")], "id long, v string, lang string"))
    assert "schema" not in tbl.snapshots[0] and "schema" in tbl.snapshots[1]
    merged = tbl.read(spark)
    assert set(merged.columns) == {"id", "v", "lang"}
    assert {r.id: r.lang for r in merged.collect()} == {1: None, 2: None, 3: "en"}
    assert sorted(r.id for r in tbl.read_commit(spark, 0).collect()) == [1, 2]


@pytest.mark.parametrize("old,new", [("bigint", "string"), ("int", "bigint")])
def test_type_conflict_across_commits_raises_on_read(spark, tmp_path, old, new):
    """A column whose type differs between commits cannot be merged, as
    parquet mergeSchema refuses it."""
    tbl = ManifestTable(str(tmp_path / "conflict"))
    tbl.append(spark.createDataFrame([(1, 1)], f"id long, v {old}"))
    v = "2" if new == "string" else 2
    tbl.append(spark.createDataFrame([(2, v)], f"id long, v {new}"))
    with pytest.raises(Exception, match="(?i)merg"):
        tbl.read(spark)
    # each commit alone still reads with its own type
    assert tbl.read(spark, as_of=0).schema["v"].dataType.simpleString() == old


def test_zone_map_pruning(spark, tmp_path):
    """Commit-level min/max zone maps: a ranged read opens ONLY the
    overlapping commits; commits without stats are read conservatively;
    results equal the unpruned filter exactly."""
    tbl = ManifestTable(str(tmp_path / "zm"))
    for lo in (0, 100, 200):
        df = spark.createDataFrame(
            [(lo + i, f"v{lo + i}") for i in range(10)], "id long, v string"
        )
        tbl.append(df, stats_cols=["id"])
    # no-stats commit (legacy writer): must never be skipped
    tbl.append(spark.createDataFrame([(55, "legacy")], "id long, v string"))

    got = tbl.read_pruned(spark, "id", 100, 109)
    # exactly the stats-overlapping commit + the conservative no-stats one
    files = set(got.inputFiles())
    assert any("commit=1/" in f for f in files)
    assert not any("commit=0/" in f or "commit=2/" in f for f in files)
    assert any("commit=3/" in f for f in files)  # legacy: conservative
    assert sorted(r.id for r in got.collect()) == list(range(100, 110))

    # predicate exactness: pruned == unpruned filter
    full = tbl.read(spark).where("id between 100 and 109")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, full.collect()))

    # provably-disjoint range: only the legacy commit is opened
    none_zone = tbl.read_pruned(spark, "id", 500, 600)
    assert {f.split("commit=")[1][0] for f in none_zone.inputFiles()} == {"3"}
    assert none_zone.count() == 0

    # string zone maps work too (lexicographic)
    tbl2 = ManifestTable(str(tmp_path / "zm2"))
    tbl2.append(
        spark.createDataFrame([("a1",), ("a9",)], "url string"), stats_cols=["url"]
    )
    tbl2.append(
        spark.createDataFrame([("m1",), ("m9",)], "url string"), stats_cols=["url"]
    )
    got2 = tbl2.read_pruned(spark, "url", "m0", "mz")
    assert {f.split("commit=")[1][0] for f in got2.inputFiles()} == {"1"}
    assert sorted(r.url for r in got2.collect()) == ["m1", "m9"]


def test_delete_where_rewrites_only_affected_commits(spark, tmp_path):
    from pyspark.sql import functions as F

    tbl = _mk(spark, tmp_path)  # commits 0,1,2 with ids c*100+i
    cid = tbl.delete_where(spark, F.col("id").between(100, 101))
    assert cid == 3
    ids = _ids(spark, tbl.read(spark))
    assert 100 not in ids and 101 not in ids
    assert len(ids) == 10
    # untouched commits keep their files; only commit 1 was replaced
    entry = [s for s in tbl.snapshots if s["commit_id"] == cid][0]
    assert entry["op"] == "delete" and entry["replaces"] == [1]
    # time travel still shows the deleted rows until expire()
    assert 100 in _ids(spark, tbl.read(spark, as_of=2))
    expired = tbl.expire()
    assert 1 in expired
    assert 100 not in _ids(spark, tbl.read(spark))


def test_delete_where_no_match_is_noop(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    n = len(tbl.snapshots)
    assert tbl.delete_where(spark, "id > 100000") is None
    assert len(tbl.snapshots) == n


def test_delete_where_sql_string_and_null_semantics(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "tbl"))
    tbl.append(spark.createDataFrame([(1, "a")], "id long, v string"), 0)
    # schema evolution: commit 1 adds a 'flag' column
    tbl.append(
        spark.createDataFrame([(2, "b", True), (3, "c", False)],
                              "id long, v string, flag boolean"), 1
    )
    cid = tbl.delete_where(spark, "flag")
    assert cid is not None
    ids = _ids(spark, tbl.read(spark))
    # pred NULL on the pre-evolution row -> survives; only flag=TRUE dies
    assert ids == [1, 3]


def test_read_changes_refuses_delete_commits(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.delete_where(spark, "id = 0")
    with pytest.raises(ValueError, match="overwrite"):
        tbl.read_changes(spark, since=-1)


def test_merge_across_partitioned_commits(spark, tmp_path):
    """An upsert whose keys hit two hive-partitioned commits reads the
    survivors per commit, not as one multi-root scan."""
    tbl = ManifestTable(str(tmp_path / "part"))
    for c in range(2):
        df = spark.createDataFrame(
            [(c * 100 + i, f"v{c}_{i}", i % 2) for i in range(4)],
            "id long, v string, k int",
        )
        tbl.append(df, c, partition_by=("k",))
    upd = spark.createDataFrame(
        [(1, "U1", 1), (102, "U102", 0)], "id long, v string, k int"
    )
    cid = tbl.merge(spark, upd, key="id")
    entry = next(s for s in tbl.snapshots if s["commit_id"] == cid)
    assert entry["replaces"] == [0, 1]
    cur = {r.id: (r.v, r.k) for r in tbl.read(spark).collect()}
    assert len(cur) == 8
    assert cur[1] == ("U1", 1) and cur[102] == ("U102", 0)
    assert cur[0] == ("v0_0", 0) and cur[103] == ("v1_3", 1)


def test_merge_across_schema_evolved_commits(spark, tmp_path):
    """An upsert whose keys hit a commit before and a commit after an
    added column keeps the union schema; old rows read it as NULL."""
    tbl = ManifestTable(str(tmp_path / "evo"))
    tbl.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    tbl.append(
        spark.createDataFrame(
            [(3, "c", "en"), (4, "d", "fr")], "id long, v string, lang string"
        )
    )
    upd = spark.createDataFrame(
        [(1, "A", "de"), (3, "C", "es")], "id long, v string, lang string"
    )
    cid = tbl.merge(spark, upd, key="id")
    entry = next(s for s in tbl.snapshots if s["commit_id"] == cid)
    assert entry["replaces"] == [0, 1]
    cur = {r.id: (r.v, r.lang) for r in tbl.read(spark).collect()}
    assert cur == {1: ("A", "de"), 2: ("b", None), 3: ("C", "es"), 4: ("d", "fr")}
