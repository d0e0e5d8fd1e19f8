"""Write-audit-publish branches (Iceberg WAP workflow): a branch is a
second manifest chain sharing the table's data dirs — forking moves zero
bytes at any scale, branch commits stage like main commits, audits run
against the branch read, and fast-forward publishes the audited head
onto main as one atomic commit.  Branches pin their files against GC
until dropped."""

from __future__ import annotations

import pytest

from cubefs_hadoop_spark import versioning
from cubefs_hadoop_spark.engine import Engine
from cubefs_hadoop_spark.errors import (
    EngineIOError,
    TableNotFoundError,
    VersionConflictError,
)


@pytest.fixture()
def eng(spark, tmp_warehouse):
    return Engine(spark, tmp_warehouse)


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")


def test_branch_write_audit_publish_roundtrip(eng, spark):
    eng.write_table_version(_df(spark, 0, 10), "t")
    eng.create_table_branch("t", "audit")
    # branch starts at main's snapshot
    assert eng.read_version("t", branch="audit").count() == 10
    # write lands on the branch only
    eng.write_table_version(
        _df(spark, 10, 25), "t", mode="append", branch="audit"
    )
    assert eng.read_version("t", branch="audit").count() == 25
    assert eng.read_version("t").count() == 10  # main untouched
    # audit passes -> publish: main gets the branch state in ONE commit
    v = eng.publish_branch("t", "audit")
    assert eng.read_version("t").count() == 25
    m = versioning.read_manifest(eng._table_path("t"), v)
    assert m["mode"] == "publish" and m["branch"] == "audit"
    # branch dropped after publish by default
    assert eng.table_branches("t") == []
    # pre-publish main history intact
    assert eng.read_version("t", 1).count() == 10


def test_branch_overwrite_then_publish(eng, spark):
    eng.write_table_version(_df(spark, 0, 10), "t")
    eng.create_table_branch("t", "rewrite")
    eng.write_table_version(
        _df(spark, 100, 103), "t", mode="overwrite", branch="rewrite"
    )
    assert eng.read_version("t").count() == 10
    eng.publish_branch("t", "rewrite")
    assert sorted(r.id for r in eng.read_version("t").collect()) == [
        100,
        101,
        102,
    ]


def test_publish_refuses_diverged_main_unless_forced(eng, spark):
    eng.write_table_version(_df(spark, 0, 10), "t")
    eng.create_table_branch("t", "audit")
    eng.write_table_version(
        _df(spark, 10, 20), "t", mode="append", branch="audit"
    )
    # main moves on while the audit runs
    eng.write_table_version(_df(spark, 50, 55), "t", mode="append")
    with pytest.raises(VersionConflictError, match="fork point"):
        eng.publish_branch("t", "audit")
    assert eng.table_branches("t") == ["audit"]  # refusal keeps the branch
    v = eng.publish_branch("t", "audit", force=True)
    # forced publish = branch head wins wholesale (main's interim append
    # is in history, not in the published state)
    assert eng.read_version("t", v).count() == 20


def test_branch_commit_requires_create(eng, spark):
    eng.write_table_version(_df(spark, 0, 10), "t")
    with pytest.raises(TableNotFoundError, match="create_branch"):
        eng.write_table_version(
            _df(spark, 10, 20), "t", mode="append", branch="ghost"
        )


def test_branch_names_validated_and_unique(eng, spark):
    eng.write_table_version(_df(spark, 0, 10), "t")
    eng.create_table_branch("t", "a-b_1")
    with pytest.raises(EngineIOError, match="already exists"):
        eng.create_table_branch("t", "a-b_1")
    with pytest.raises(EngineIOError, match="invalid branch"):
        eng.create_table_branch("t", "../escape")


def test_gc_spares_branch_files(eng, spark):
    eng.write_table_version(_df(spark, 0, 10), "t")
    eng.create_table_branch("t", "keepme")
    eng.write_table_version(
        _df(spark, 10, 40), "t", mode="overwrite", branch="keepme"
    )
    # main overwrites twice then expires everything but its head
    eng.write_table_version(_df(spark, 0, 5), "t")
    eng.write_table_version(_df(spark, 0, 3), "t")
    eng.expire_table_versions("t", keep_last=1, orphan_grace_ms=0)
    # the branch's 30 rows survive the sweep (its files were never
    # referenced by ANY main manifest)
    assert eng.read_version("t", branch="keepme").count() == 30
    assert eng.read_version("t").count() == 3


def test_drop_branch_releases_files_to_gc(eng, spark):
    eng.write_table_version(_df(spark, 0, 10), "t")
    eng.create_table_branch("t", "tmp")
    eng.write_table_version(
        _df(spark, 10, 40), "t", mode="overwrite", branch="tmp"
    )
    eng.drop_table_branch("t", "tmp")
    assert eng.table_branches("t") == []
    stats = versioning.expire_versions(
        eng._table_path("t"), keep_last=1, orphan_grace_ms=0
    )
    assert stats["files_removed"] > 0  # branch-staged files reclaimed
    assert eng.read_version("t").count() == 10  # main intact


def test_wap_with_expectations(eng, spark):
    """The full WAP loop: stage on a branch, audit with expectations,
    publish only when clean."""
    eng.write_table_version(_df(spark, 0, 10), "t")
    eng.create_table_branch("t", "wap")
    eng.write_table_version(
        _df(spark, 10, 30), "t", mode="append", branch="wap"
    )
    staged = eng.read_version("t", branch="wap")
    violations = {
        c: n for c, n in eng.expect(staged, ["v = id * 2", "id >= 0"]).items() if n
    }
    assert violations == {}
    eng.publish_branch("t", "wap")
    assert eng.read_version("t").count() == 30


def test_branch_read_rejects_tag_names(eng, spark):
    eng.write_table_version(_df(spark, 0, 10), "t")
    eng.tag_table("t", "pinned")
    eng.create_table_branch("t", "b")
    with pytest.raises(EngineIOError, match="numeric branch version"):
        eng.read_version("t", "pinned", branch="b")


def test_sql_branch_verbs(eng, spark):
    eng.write_table_version(_df(spark, 0, 10), "t")
    eng.execute("ALTER TABLE t CREATE BRANCH wap-1")
    assert eng.table_branches("t") == ["wap-1"]
    eng.write_table_version(
        _df(spark, 10, 20), "t", mode="append", branch="wap-1"
    )
    eng.execute("ALTER TABLE t PUBLISH BRANCH wap-1")
    assert eng.read_version("t").count() == 20
    eng.execute("ALTER TABLE t CREATE BRANCH scratch")
    eng.execute("ALTER TABLE t DROP BRANCH scratch")
    assert eng.table_branches("t") == []


def test_cdc_reads_across_clean_publish(eng, spark):
    """A clean fast-forward of an append-only branch is file-additive, so
    the incremental CDC read works THROUGH the publish commit: consumers
    see exactly the audited rows, once."""
    eng.write_table_version(_df(spark, 0, 10), "t")
    base = versioning.current_version(eng._table_path("t"))
    eng.create_table_branch("t", "audit")
    eng.write_table_version(
        _df(spark, 10, 25), "t", mode="append", branch="audit"
    )
    eng.publish_branch("t", "audit")
    delta = versioning.read_changes(
        spark, eng._table_path("t"), from_version=base
    )
    assert sorted(r.id for r in delta.collect()) == list(range(10, 25))


def test_cfstable_branch_option_read_write(eng, spark):
    """WAP from the pure Spark API: write to a branch and read it back
    through the cfstable DataSource, main untouched until publish."""
    from cubefs_hadoop_spark.sources.table_source import register

    register(spark)
    eng.write_table_version(_df(spark, 0, 10), "t")
    eng.create_table_branch("t", "wap")
    p = eng._table_path("t")
    (
        _df(spark, 10, 30)
        .write.format("cfstable")
        .option("path", p)
        .option("branch", "wap")
        .mode("append")
        .save()
    )
    branch_df = (
        spark.read.format("cfstable")
        .option("path", p)
        .option("branch", "wap")
        .load()
    )
    assert branch_df.count() == 30
    main_df = spark.read.format("cfstable").option("path", p).load()
    assert main_df.count() == 10
    eng.publish_branch("t", "wap")
    assert (
        spark.read.format("cfstable").option("path", p).load().count() == 30
    )


def test_cfstable_branch_write_requires_create(eng, spark):
    from cubefs_hadoop_spark.sources.table_source import register

    register(spark)
    eng.write_table_version(_df(spark, 0, 10), "t")
    with pytest.raises(Exception, match="create_branch"):
        (
            _df(spark, 10, 20)
            .write.format("cfstable")
            .option("path", eng._table_path("t"))
            .option("branch", "ghost")
            .mode("append")
            .save()
        )


def test_version_as_of_resolves_branch_name(eng, spark):
    """VERSION AS OF '<name>' resolves a tag first, then a branch head —
    including through the SQL time-travel rewrite."""
    eng.write_table_version(_df(spark, 0, 10), "t")
    eng.create_table_branch("t", "audit")
    eng.write_table_version(
        _df(spark, 10, 40), "t", mode="append", branch="audit"
    )
    # python API: string resolves to the branch head
    assert eng.read_version("t", "audit").count() == 40
    # SQL rewrite path
    n = eng.execute(
        "SELECT COUNT(*) AS c FROM t VERSION AS OF 'audit'"
    ).first().c
    assert n == 40
    # a TAG with the same name wins (immutable beats mutable)
    eng.tag_table("t", "audit", version=1)
    assert eng.read_version("t", "audit").count() == 10
    # unknown names still raise
    with pytest.raises(TableNotFoundError):
        eng.read_version("t", "nope")


def test_show_branches_sql_and_table_files_branch(eng, spark):
    eng.write_table_version(_df(spark, 0, 10), "t")
    eng.create_table_branch("t", "b1")
    eng.create_table_branch("t", "b2")
    assert [r.branch for r in eng.execute("SHOW BRANCHES t").collect()] == [
        "b1",
        "b2",
    ]
    eng.write_table_version(
        _df(spark, 10, 30), "t", mode="append", branch="b1"
    )
    # the files metadata table scopes to the branch snapshot
    main_files = eng.table_files("t").count()
    branch_files = eng.table_files("t", branch="b1").count()
    assert branch_files > main_files


def test_expire_branches_by_age(eng, spark):
    eng.write_table_version(_df(spark, 0, 10), "t")
    eng.create_table_branch("t", "stale")
    eng.create_table_branch("t", "fresh")
    # everything is younger than an hour: nothing expires
    assert eng.expire_table_branches("t", max_age_ms=3_600_000) == []
    # age 0 cutoff: both heads are "older" than 0ms
    dropped = eng.expire_table_branches("t", max_age_ms=-1)
    assert sorted(dropped) == ["fresh", "stale"]
    assert eng.table_branches("t") == []


# -- model-based + concurrency hardening ----------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

bop = st.one_of(
    st.tuples(st.just("main_append"), st.integers(1, 4)),
    st.tuples(st.just("branch_append"), st.integers(1, 4)),
    st.tuples(st.just("branch_overwrite"), st.integers(1, 4)),
    st.tuples(st.just("publish"), st.just(0)),
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(bop, min_size=1, max_size=6))
def test_branch_model_isolation_and_publish(spark, tmp_path_factory, ops):
    """Random interleavings of main commits, branch commits, and
    publishes: the branch count and main count must always match an
    independent model — branch writes NEVER leak into main before a
    publish, and a clean publish moves exactly the branch state."""
    wh = str(tmp_path_factory.mktemp("br_wh"))
    eng = Engine(spark, wh)
    eng.write_table_version(_df(spark, 0, 2), "t")
    main_n, branch_n = 2, None  # model state

    def mk(n):
        return spark.range(n).selectExpr("id", "id * 2 AS v")

    for kind, n in ops:
        if kind == "main_append":
            eng.write_table_version(mk(n), "t", mode="append")
            main_n += n
            if branch_n is not None:
                diverged = True
        elif kind == "branch_append":
            if branch_n is None:
                eng.create_table_branch("t", "b")
                branch_n, diverged = main_n, False
            eng.write_table_version(mk(n), "t", mode="append", branch="b")
            branch_n += n
        elif kind == "branch_overwrite":
            if branch_n is None:
                eng.create_table_branch("t", "b")
                branch_n, diverged = main_n, False
            eng.write_table_version(
                mk(n), "t", mode="overwrite", branch="b"
            )
            branch_n = n
        elif kind == "publish":
            if branch_n is None:
                continue
            if diverged:
                with pytest.raises(VersionConflictError):
                    eng.publish_branch("t", "b")
                eng.drop_table_branch("t", "b")
            else:
                eng.publish_branch("t", "b")
                main_n = branch_n
            branch_n = None
        assert eng.read_version("t").count() == main_n
        if branch_n is not None:
            assert (
                eng.read_version("t", branch="b").count() == branch_n
            )


def test_concurrent_branch_appends_both_land(eng, spark):
    """Two writers appending to the same branch: the optimistic commit
    retry commutes them exactly like main appends."""
    import threading

    eng.write_table_version(_df(spark, 0, 5), "t")
    eng.create_table_branch("t", "b")
    path = eng._table_path("t")
    errs = []

    def commit(lo, hi):
        try:
            df = spark.range(lo, hi).selectExpr("id", "id * 2 AS v")
            versioning.commit_version(
                df, path, mode="append", branch="b"
            )
        except Exception as e:  # surfaced below
            errs.append(e)

    t1 = threading.Thread(target=commit, args=(10, 20))
    t2 = threading.Thread(target=commit, args=(20, 35))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert errs == []
    got = sorted(
        r.id for r in eng.read_version("t", branch="b").collect()
    )
    assert got == list(range(0, 5)) + list(range(10, 35))


def test_branch_commits_vs_gc_threads(eng, spark):
    """Branch commits racing a main-chain GC loop: the sweep counts live
    branches' files as referenced and the orphan grace protects in-flight
    stages, so no branch data is ever reclaimed from under the audit."""
    import threading
    import time as _time

    eng.write_table_version(_df(spark, 0, 5), "t")
    eng.create_table_branch("t", "b")
    # main churns so GC has versions to expire
    stop = threading.Event()

    def gc() -> None:
        while not stop.is_set():
            try:
                eng.expire_table_versions("t", keep_last=2)
            except Exception:
                pass  # races with commits; next tick converges
            _time.sleep(0.01)

    g = threading.Thread(target=gc)
    g.start()
    try:
        for i in range(1, 5):
            eng.write_table_version(
                _df(spark, i * 100, i * 100 + 5), "t", mode="append"
            )
            eng.write_table_version(
                _df(spark, i * 1000, i * 1000 + 5),
                "t",
                mode="append",
                branch="b",
            )
    finally:
        stop.set()
        g.join()
    # every branch append survived the churn
    assert eng.read_version("t", branch="b").count() == 5 + 4 * 5
    # main head intact too
    assert eng.read_version("t").count() == 5 + 4 * 5


def test_cfstable_timestamp_option_and_branch_history(eng, spark):
    import datetime
    import time as _time

    from cubefs_hadoop_spark.sources.table_source import register

    register(spark)
    eng.write_table_version(_df(spark, 0, 7), "t")
    path = eng._table_path("t")
    t1 = versioning.read_manifest(path, 1)["ts_ms"]
    _time.sleep(0.05)
    eng.write_table_version(_df(spark, 0, 3), "t")
    iso = datetime.datetime.fromtimestamp(
        t1 / 1000, tz=datetime.timezone.utc
    ).strftime("%Y-%m-%d %H:%M:%S.%f")
    n = (
        spark.read.format("cfstable")
        .option("path", path)
        .option("timestamp", iso)
        .load()
        .count()
    )
    assert n == 7
    # branch history lists the branch chain, not main's
    eng.create_table_branch("t", "b")
    eng.write_table_version(_df(spark, 0, 9), "t", mode="append", branch="b")
    hist = eng.table_history("t", branch="b").collect()
    assert [r.mode for r in hist] == ["branch", "append"]
    assert eng.table_history("t").count() == 2  # main: v1, v2


def test_read_changes_on_branch(eng, spark):
    """Incremental audit of a branch: the consumer tails the BRANCH
    chain's deltas (since its fork snapshot) without touching main."""
    eng.write_table_version(_df(spark, 0, 10), "t")
    eng.create_table_branch("t", "b")
    eng.write_table_version(_df(spark, 10, 18), "t", mode="append", branch="b")
    eng.write_table_version(_df(spark, 18, 25), "t", mode="append", branch="b")
    path = eng._table_path("t")
    delta = versioning.read_changes(spark, path, 0, branch="b")
    assert sorted(r.id for r in delta.collect()) == list(range(10, 25))
    # second commit only
    d2 = versioning.read_changes(spark, path, 2, branch="b")
    assert sorted(r.id for r in d2.collect()) == list(range(18, 25))


def test_concurrent_publish_one_wins(eng, spark):
    """Two racers fast-forwarding the same branch: the no-overwrite
    manifest CAS lets exactly one publish land."""
    import threading

    eng.write_table_version(_df(spark, 0, 5), "t")
    eng.create_table_branch("t", "b")
    eng.write_table_version(_df(spark, 5, 12), "t", mode="append", branch="b")
    path = eng._table_path("t")
    results = [None, None]

    def pub(i):
        try:
            results[i] = versioning.fast_forward(path, "b", drop=False)
        except VersionConflictError as e:
            results[i] = e

    ts = [threading.Thread(target=pub, args=(i,)) for i in (0, 1)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    kinds = sorted(type(r).__name__ for r in results)
    assert kinds == ["VersionConflictError", "int"]
    assert eng.read_version("t").count() == 12


def test_cfstable_refuses_timestamp_plus_branch(eng, spark):
    from cubefs_hadoop_spark.sources.table_source import register

    register(spark)
    eng.write_table_version(_df(spark, 0, 5), "t")
    eng.create_table_branch("t", "b")
    with pytest.raises(Exception, match="mutually exclusive"):
        (
            spark.read.format("cfstable")
            .option("path", eng._table_path("t"))
            .option("branch", "b")
            .option("timestamp", "2026-01-01")
            .load()
            .count()
        )
    # engine surface mirrors the refusal for metadata listings too
    with pytest.raises(EngineIOError, match="numeric branch version"):
        eng.table_files("t", version="sometag", branch="b")


def test_branch_append_outlives_inherited_mor_delete(eng, spark):
    """A merge-on-read delete pending on main scopes itself to the files
    that existed when it committed.  A branch forked after it restarts
    its version numbers, but its appends must still sort AFTER the
    inherited delete: every appended row survives the publish.  k 0-199
    lands in two commits, so the delete is main's v3 while the branch's
    append is its v2."""
    eng.write_table_version(spark.range(0, 100).toDF("k"), "t")
    eng.write_table_version(spark.range(100, 200).toDF("k"), "t", mode="append")
    eng.delete_from("t", "k % 10 = 3", strategy="mor")
    eng.create_table_branch("t", "b")
    eng.write_table_version(
        spark.range(1000, 1100).toDF("k"), "t", mode="append", branch="b"
    )
    eng.publish_branch("t", "b")
    ks = {r.k for r in eng.read_version("t").collect()}
    assert {k for k in ks if k >= 1000} == set(range(1000, 1100))
    assert ks == {k for k in range(200) if k % 10 != 3} | set(range(1000, 1100))


def test_mor_delete_after_publish_reaches_branch_files(eng, spark):
    """After a branch with several commits is published, main's next
    merge-on-read delete must see every published file as older than
    itself — including the branch's files, whose seqs ran ahead of
    main's version numbers."""
    eng.write_table_version(spark.range(0, 50).toDF("k"), "t")
    eng.create_table_branch("t", "b")
    for lo in (100, 200, 300):
        eng.write_table_version(
            spark.range(lo, lo + 50).toDF("k"), "t", mode="append", branch="b"
        )
    eng.publish_branch("t", "b")
    eng.delete_from("t", "k % 10 = 3", strategy="mor")
    ks = {r.k for r in eng.read_version("t").collect()}
    want = {
        k
        for lo in (0, 100, 200, 300)
        for k in range(lo, lo + 50)
        if k % 10 != 3
    }
    assert ks == want
