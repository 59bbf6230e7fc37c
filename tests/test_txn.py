"""Unit tests for the mini transaction-log table format
(pipeline/txn.py): versioned snapshots, time travel, atomic commit
races, optimistic-concurrency conflicts, idempotent re-commit, orphan
invisibility, and vacuum."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pytest

from aws_genaric_datapipeline_spark.pipeline.txn import TxnConflict, TxnTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "k bigint, v string")


@pytest.fixture()
def table(spark, tmp_path):
    return TxnTable(spark, str(tmp_path / "tbl"))


def _rows(df):
    return {(r["k"], r["v"]) for r in df.collect()}


class TestVersioning:
    def test_append_advances_versions_and_accumulates(self, spark, table):
        assert table.latest_version() == 0
        v1 = table.append(_df(spark, [(1, "a")]))
        v2 = table.append(_df(spark, [(2, "b")]))
        assert (v1, v2) == (1, 2)
        assert _rows(table.read()) == {(1, "a"), (2, "b")}

    def test_time_travel_reads_historical_snapshots(self, spark, table):
        table.append(_df(spark, [(1, "a")]))
        table.overwrite(_df(spark, [(9, "z")]))
        assert _rows(table.read(version=1)) == {(1, "a")}
        assert _rows(table.read(version=2)) == {(9, "z")}
        assert _rows(table.read()) == {(9, "z")}

    def test_snapshot_isolation_under_overwrite(self, spark, table):
        """A reader that pinned files before an overwrite still computes
        over the old immutable files."""
        table.append(_df(spark, [(1, "a"), (2, "b")]))
        pinned = table.read(version=1)
        table.overwrite(_df(spark, [(3, "c")]))
        # the pinned plan still reads the version-1 files
        assert _rows(pinned) == {(1, "a"), (2, "b")}
        assert _rows(table.read()) == {(3, "c")}

    def test_empty_table_read_raises(self, table):
        with pytest.raises(ValueError):
            table.read()


class TestMerge:
    def test_merge_latest_wins_and_inserts(self, spark, table):
        table.append(_df(spark, [(1, "a"), (2, "b")]))
        table.merge_upsert(_df(spark, [(2, "B"), (3, "c")]), keys=["k"])
        assert _rows(table.read()) == {(1, "a"), (2, "B"), (3, "c")}

    def test_merge_into_empty_table(self, spark, table):
        table.merge_upsert(_df(spark, [(1, "a")]), keys=["k"])
        assert _rows(table.read()) == {(1, "a")}

    def test_stale_merge_conflicts(self, spark, table):
        """Two writers merge from the same base version: the second
        commit must raise TxnConflict, never silently drop the first."""
        table.append(_df(spark, [(1, "a")]))
        # writer A commits version 2 "behind the back" of writer B
        interloper = TxnTable(spark, str(table.path))
        stale_base = table.latest_version()
        interloper.append(_df(spark, [(5, "e")]))
        # writer B believes base is stale_base; merge must now conflict
        assert table.latest_version() == stale_base + 1
        with pytest.raises(TxnConflict):
            # force B's view of the base: replay its protocol manually
            base_files = table.live_files(stale_base)
            merged = _df(spark, [(1, "A2")])
            adds = table._write_files(merged)
            if not table._try_commit(stale_base + 1, "merge", adds, base_files, None):
                raise TxnConflict("stale base")
        # the interloper's row survived
        assert (5, "e") in _rows(table.read())

    def test_idempotent_app_txn(self, spark, table):
        table.append(_df(spark, [(1, "a")]), app_txn_id="t0")
        v = table.merge_upsert(_df(spark, [(1, "A")]), keys=["k"], app_txn_id="t1")
        v2 = table.merge_upsert(_df(spark, [(1, "A")]), keys=["k"], app_txn_id="t1")
        assert v == v2 == table.latest_version()
        assert _rows(table.read()) == {(1, "A")}

    def test_version_race_on_log_file(self, spark, table):
        """The create-exclusive commit primitive: once version N exists,
        a second commit of N must be rejected."""
        table.append(_df(spark, [(1, "a")]))
        assert table._try_commit(1, "append", ["x.parquet"], [], None) is False


class TestConcurrentWriters:
    """N writers racing real commits through the OCC loop
    (merge_upsert_with_retry): LIVENESS — every writer lands;
    NO LOST COMMITS — every app_txn_id appears exactly once in the log,
    versions contiguous; SERIALIZABILITY — the final table equals
    replaying the writers' operations in commit-version order."""

    N = 6

    def test_racing_merges_all_land_and_serialize(self, spark, tmp_path):
        import concurrent.futures as cf

        from aws_genaric_datapipeline_spark.pipeline.txn import (
            TxnTable,
            merge_upsert_with_retry,
        )

        path = str(tmp_path / "tbl")
        TxnTable(spark, path).append(_df(spark, [(0, "base")]))

        def writer(i: int):
            # own TxnTable instance per writer: the multi-process model —
            # nothing shared but the directory
            t = TxnTable(spark, path)
            rows = [(i, f"w{i}"), (100, f"hot{i}")]  # unique key + HOT key
            v = merge_upsert_with_retry(
                t, _df(spark, rows), keys=["k"], app_txn_id=f"w{i}"
            )
            return i, v

        with cf.ThreadPoolExecutor(self.N) as ex:
            results = dict(ex.map(writer, range(1, self.N + 1)))

        table = TxnTable(spark, path)
        hist = table.history()
        # liveness + no lost commits: contiguous versions, one commit per
        # writer, each writer's reported version is its own log row
        assert [h["version"] for h in hist] == list(range(1, self.N + 2))
        assert sorted(h["app_txn_id"] for h in hist[1:]) == [
            f"w{i}" for i in range(1, self.N + 1)
        ]
        for i, v in results.items():
            assert hist[v - 1]["app_txn_id"] == f"w{i}"
        # serializability: replay the merges in commit-version order
        state = {0: "base"}
        for h in hist[1:]:
            i = int(h["app_txn_id"][1:])
            state[i] = f"w{i}"
            state[100] = f"hot{i}"
        assert _rows(table.read()) == set(state.items())
        # the hot key holds the LAST committer's value specifically
        last = int(hist[-1]["app_txn_id"][1:])
        assert (100, f"hot{last}") in _rows(table.read())

    def test_mixed_appends_and_merges_serialize(self, spark, tmp_path):
        """Blind appends (internal version-race retry) racing OCC merges:
        all land, and replaying ops in version order reproduces the final
        state — appended rows are never lost to a rewriting merge."""
        import concurrent.futures as cf

        from aws_genaric_datapipeline_spark.pipeline.txn import (
            TxnTable,
            merge_upsert_with_retry,
        )

        path = str(tmp_path / "tbl")
        TxnTable(spark, path)  # create dirs

        def appender(i: int):
            TxnTable(spark, path).append(
                _df(spark, [(10 + i, f"a{i}")]), app_txn_id=f"app{i}"
            )

        def merger(i: int):
            merge_upsert_with_retry(
                TxnTable(spark, path),
                _df(spark, [(50, f"m{i}")]),
                keys=["k"],
                app_txn_id=f"mrg{i}",
            )

        with cf.ThreadPoolExecutor(6) as ex:
            futs = [ex.submit(appender, i) for i in range(3)]
            futs += [ex.submit(merger, i) for i in range(3)]
            for f in futs:
                f.result()

        table = TxnTable(spark, path)
        hist = table.history()
        assert [h["version"] for h in hist] == list(range(1, 7))
        assert sorted(h["app_txn_id"] for h in hist) == sorted(
            [f"app{i}" for i in range(3)] + [f"mrg{i}" for i in range(3)]
        )
        # replay in version order
        state: dict[int, str] = {}
        for h in hist:
            tid = h["app_txn_id"]
            if tid.startswith("app"):
                i = int(tid[3:])
                state[10 + i] = f"a{i}"
            else:
                state[50] = f"m{int(tid[3:])}"
        assert _rows(table.read()) == set(state.items())

    def test_retry_exhaustion_raises(self, spark, tmp_path, monkeypatch):
        """A merge that loses every race gives up loudly (bounded loop),
        never spins forever or commits a stale snapshot."""
        from aws_genaric_datapipeline_spark.pipeline import txn as T

        table = T.TxnTable(spark, str(tmp_path / "tbl"))
        table.append(_df(spark, [(1, "a")]))

        def always_conflict(*a, **k):
            raise T.TxnConflict("forced")

        monkeypatch.setattr(table, "merge_upsert", always_conflict)
        with pytest.raises(T.TxnConflict, match="gave up after 3"):
            T.merge_upsert_with_retry(
                table,
                _df(spark, [(2, "b")]),
                keys=["k"],
                max_retries=3,
                backoff_s=0.0,
            )


class TestHygiene:
    def test_orphan_files_invisible_and_vacuumed(self, spark, table):
        """A writer that crashed after writing parquet but before
        committing leaves files readers never see; vacuum removes them."""
        table.append(_df(spark, [(1, "a")]))
        orphans = table._write_files(_df(spark, [(99, "crash")]))
        assert _rows(table.read()) == {(1, "a")}
        dropped = table.vacuum()
        assert sorted(orphans) == dropped
        # committed files survive vacuum, including time-travel history
        table.overwrite(_df(spark, [(2, "b")]))
        table.vacuum()
        assert _rows(table.read(version=1)) == {(1, "a")}

    def test_history_reports_commits(self, spark, table):
        table.append(_df(spark, [(1, "a")]), app_txn_id="h1")
        table.overwrite(_df(spark, [(2, "b")]))
        hist = table.history()
        assert [h["version"] for h in hist] == [1, 2]
        assert hist[0]["op"] == "append" and hist[0]["app_txn_id"] == "h1"
        assert hist[1]["op"] == "overwrite" and hist[1]["n_removes"] >= 1


def _lost_race_ops():
    from aws_genaric_datapipeline_spark.pipeline import txn as T

    def keys(spark):
        return spark.createDataFrame([(1,)], "k bigint")

    return {
        "append": lambda s, t: t.append(_df(s, [(9, "z")])),
        "overwrite": lambda s, t: t.overwrite(_df(s, [(9, "z")])),
        "merge_upsert": lambda s, t: t.merge_upsert(_df(s, [(1, "A")]), ["k"]),
        "delete_keys": lambda s, t: t.delete_keys(keys(s), ["k"]),
        "delete_keys_dv": lambda s, t: t.delete_keys_dv(keys(s), ["k"]),
        "compact": lambda s, t: T.compact(t),
        "cluster_zorder": lambda s, t: T.cluster_zorder(t, "k", "k"),
        "cluster_incremental": lambda s, t: T.cluster_incremental(t, "k", "k"),
        "merge_upsert_pruned": lambda s, t: T.merge_upsert_pruned(
            t, _df(s, [(1, "A")]), "k"
        ),
        "merge_full_sync": lambda s, t: T.merge_full_sync(
            t, _df(s, [(1, "A")]), "k"
        ),
        "merge_full_sync_condition": lambda s, t: T.merge_full_sync(
            t, _df(s, [(1, "A")]), "k", delete_condition="k >= 3"
        ),
        "restore_version": lambda s, t: T.restore_version(t, 1),
        "set_constraint": lambda s, t: t.set_constraint("k_pos", "k > 0"),
        "drop_constraint": lambda s, t: t.drop_constraint("k_pos"),
        "set_bloom_filter": lambda s, t: T.set_bloom_filter(t, "k"),
        "set_partition_transform": lambda s, t: T.set_partition_transform(
            t, "bucket", "k", n=4
        ),
        "rename_column": lambda s, t: t.rename_column("v", "vv"),
    }


class TestLostRace:
    """With the publish seam forced to lose, every write op raises
    TxnConflict, publishes no version and leaves no staged data or
    deletion-vector file behind.  One two-commit table serves every op:
    a losing op changes nothing."""

    @pytest.fixture(scope="class")
    def seeded(self, spark, tmp_path_factory):
        t = TxnTable(spark, str(tmp_path_factory.mktemp("lost_race") / "tbl"))
        t.append(_df(spark, [(1, "a"), (2, "b")]))
        t.append(_df(spark, [(3, "c")]))
        return t

    @pytest.mark.parametrize("op", sorted(_lost_race_ops()))
    def test_lost_race_raises_and_leaves_nothing(
        self, spark, seeded, monkeypatch, op
    ):
        before = seeded.latest_version()
        monkeypatch.setattr(seeded, "_try_commit", lambda *a, **k: False)
        with pytest.raises(TxnConflict):
            _lost_race_ops()[op](spark, seeded)
        assert seeded.latest_version() == before
        assert seeded.vacuum() == []


class TestStreamingSink:
    def test_exactly_once_under_batch_replay(self, spark, table, tmp_path):
        """Drive a real file-source stream into the table through
        exactly_once_stream_sink, then SIMULATE Structured Streaming's
        at-least-once redelivery by re-invoking the handler with an
        already-committed batch id: rows must not duplicate."""
        import pyspark.sql.functions as F

        from aws_genaric_datapipeline_spark.pipeline.txn import (
            exactly_once_stream_sink,
        )

        src = tmp_path / "src"
        _df(spark, [(1, "a"), (2, "b")]).write.parquet(str(src))
        stream = (
            spark.readStream.schema("k bigint, v string").parquet(str(src))
        )
        handler = exactly_once_stream_sink(table, "t")
        q = (
            stream.writeStream.foreachBatch(handler)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert _rows(table.read()) == {(1, "a"), (2, "b")}
        v = table.latest_version()
        # crash-replay of batch 0: the app_txn_id makes it a no-op
        handler(_df(spark, [(1, "a"), (2, "b")]), 0)
        assert table.latest_version() == v
        assert table.read().count() == 2


class TestCompaction:
    def test_compact_preserves_content_and_history(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import compact

        for i in range(4):
            table.append(_df(spark, [(i, f"v{i}")]))
        before = _rows(table.read())
        n_files_before = len(table.live_files())
        v = compact(table)
        assert _rows(table.read()) == before
        assert len(table.live_files()) < n_files_before
        assert table.history()[-1]["op"] == "compact"
        # time travel to pre-compaction still works
        assert _rows(table.read(version=v - 1)) == before
        assert _rows(table.read(version=2)) == {(0, "v0"), (1, "v1")}

    def test_compact_idempotent_by_app_txn(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import compact

        table.append(_df(spark, [(1, "a")]))
        table.append(_df(spark, [(2, "b")]))
        v = compact(table, app_txn_id="c1")
        assert compact(table, app_txn_id="c1") == v
        assert table.latest_version() == v


class TestDataSkipping:
    def test_stats_recorded_and_pruning_correct(self, spark, table):
        """Three appends with disjoint key ranges: a range read must (a)
        return exactly what a full-scan filter returns and (b) open only
        the files whose stats intersect the range."""
        from aws_genaric_datapipeline_spark.pipeline import txn as TX

        for lo in (0, 100, 200):
            table.append(
                _df(spark, [(lo + i, f"v{lo + i}") for i in range(10)])
            )
        stats = table.file_stats()
        assert stats and all("k" in s for s in stats.values())
        got = _rows(table.read_pruned("k", lower=100, upper=109))
        want = {
            (r["k"], r["v"])
            for r in table.read().where("k BETWEEN 100 AND 109").collect()
        }
        assert got == want and len(got) == 10
        # pruning check: only the middle range's file(s) can intersect
        hit = [
            f for f, s in stats.items()
            if f in table.live_files() and "k" in s
            and not (s["k"][1] < 100 or s["k"][0] > 109)
        ]
        assert len(hit) < len(table.live_files())

    def test_out_of_range_prunes_to_empty(self, spark, table):
        table.append(_df(spark, [(1, "a"), (2, "b")]))
        out = table.read_pruned("k", lower=1000)
        assert out.count() == 0
        assert out.columns == ["k", "v"]

    def test_missing_stats_column_still_correct(self, spark, table):
        """Pruning on a column with no stats must fall back to reading
        (never a correctness gate)."""
        table.append(_df(spark, [(1, "a"), (2, "b")]))
        got = _rows(table.read_pruned("v", lower="b"))
        assert got == {(2, "b")}


class TestNullCountSkipping:
    """Per-file null counts in commit stats let IS NULL / IS NOT NULL
    predicates skip files the way min/max skips ranges (Delta's
    nullCount)."""

    def _seed(self, spark, table):
        # three single-file appends: no-null, mixed, all-null on v
        table.append(_df(spark, [(1, "a"), (2, "b")]).coalesce(1))
        table.append(
            spark.createDataFrame(
                [(3, None), (4, "d")], "k bigint, v string"
            ).coalesce(1)
        )
        table.append(
            spark.createDataFrame(
                [(5, None), (6, None)], "k bigint, v string"
            ).coalesce(1)
        )

    def test_null_counts_recorded(self, spark, table):
        self._seed(spark, table)
        per_file = [
            table.file_stats()[f].get("__nulls__", {}).get("v")
            for f in table.live_files()
        ]
        assert sorted(per_file) == [0, 1, 2]

    def test_is_null_prunes_zero_null_files(self, spark, table):
        self._seed(spark, table)
        chosen = table.prune_files_nullness("v", is_null=True)
        assert len(chosen) == 2  # the no-null file is skipped
        got = {r["k"] for r in table.read_pruned_nullness("v", True).collect()}
        want = {
            r["k"] for r in table.read().where("v IS NULL").collect()
        }
        assert got == want == {3, 5, 6}

    def test_is_not_null_prunes_all_null_files(self, spark, table):
        self._seed(spark, table)
        chosen = table.prune_files_nullness("v", is_null=False)
        assert len(chosen) == 2  # the all-null file is skipped
        got = {
            r["k"] for r in table.read_pruned_nullness("v", False).collect()
        }
        assert got == {1, 2, 4}

    def test_no_candidate_files_yields_schema_correct_empty(
        self, spark, table
    ):
        table.append(_df(spark, [(1, "a"), (2, "b")]))
        out = table.read_pruned_nullness("v", True)
        assert table.prune_files_nullness("v", True) == []
        assert out.count() == 0 and out.columns == ["k", "v"]

    def test_survives_expiry_checkpoint_carryover(self, spark, table):
        """expire_snapshots rewrites the cutoff as a checkpoint carrying
        stats — null counts must survive so skipping still works."""
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            expire_snapshots,
        )

        self._seed(spark, table)
        expire_snapshots(table, keep_last=1)
        chosen = table.prune_files_nullness("v", is_null=True)
        assert len(chosen) == 2
        got = {r["k"] for r in table.read_pruned_nullness("v", True).collect()}
        assert got == {3, 5, 6}


class TestZorderSkipping:
    def test_two_column_pruning_on_zordered_table(self, spark, table):
        """Z-order the data before appending: per-file min/max bands stay
        narrow on BOTH dimensions, so read_pruned skips files for a
        predicate on EITHER column — the payoff of combining
        layout.zorder_value with the commit-stats skipping."""
        import pyspark.sql.functions as F

        from aws_genaric_datapipeline_spark.operators.layout import zorder_value

        rows = [(x, y, f"r{x}-{y}") for x in range(32) for y in range(32)]
        df = spark.createDataFrame(rows, "x bigint, y bigint, v string")
        z = df.withColumn("z", zorder_value(F.col("x"), F.col("y"), bits=5))
        table.append(
            z.repartitionByRange(8, "z").sortWithinPartitions("z").drop("z")
        )
        files = table.live_files()
        stats = table.file_stats()
        assert len(files) == 8

        def n_hit(col, lo, hi):
            return sum(
                1
                for f in files
                if col in stats.get(f, {})
                and not (stats[f][col][1] < lo or stats[f][col][0] > hi)
            )

        # a narrow predicate on EITHER dimension prunes files
        assert n_hit("x", 0, 7) < 8
        assert n_hit("y", 0, 7) < 8
        # and the pruned reads stay correct
        got_x = {(r["x"], r["y"]) for r in table.read_pruned("x", 0, 7).collect()}
        assert got_x == {(x, y) for x in range(8) for y in range(32)}
        got_y = {(r["x"], r["y"]) for r in table.read_pruned("y", 0, 7).collect()}
        assert got_y == {(x, y) for x in range(32) for y in range(8)}


class TestSchemaEvolution:
    def test_add_column_merges_and_time_travels(self, spark, table):
        """Additive evolution: a later commit adds a column; the merged
        snapshot surfaces it (null for old rows), while time travel to a
        pre-evolution version shows the old schema."""
        table.append(_df(spark, [(1, "a")]))
        evolved = spark.createDataFrame(
            [(2, "b", 99)], "k bigint, v string, extra bigint"
        )
        table.append(evolved)
        cur = table.read()
        assert set(cur.columns) == {"k", "v", "extra"}
        by_k = {r["k"]: r["extra"] for r in cur.collect()}
        assert by_k == {1: None, 2: 99}
        assert set(table.read(version=1).columns) == {"k", "v"}

    def test_pruned_read_sees_evolved_schema(self, spark, table):
        table.append(_df(spark, [(1, "a")]))
        table.append(
            spark.createDataFrame([(500, "b", 7)], "k bigint, v string, extra bigint")
        )
        out = table.read_pruned("k", lower=100)
        assert set(out.columns) == {"k", "v", "extra"}
        assert [(r["k"], r["extra"]) for r in out.collect()] == [(500, 7)]


class TestSchemaInCommitMetadata:
    """Round-16 optimization: each commit records its write schema in the
    per-file stats (``__schema__``), so reads resolve era-group schemas
    from the LOG — no mergeSchema footer-merge job for multi-file groups
    and no driver-side pyarrow footer loop at schema-commit time."""

    def test_commits_record_write_schema(self, spark, table):
        table.append(_df(spark, [(1, "a")]))
        c = table._commits()[-1]
        recs = [s.get("__schema__") for s in c["stats"].values()]
        assert recs and all(r is not None for r in recs)
        assert [n for n, _ in recs[0]] == ["k", "v"]

    def test_read_never_opts_into_mergeschema(self, spark, table, monkeypatch):
        """Engine-written tables (heterogeneous multi-file snapshot, plus
        rename evolution) must read via recorded schemas: poison the
        mergeSchema option to prove the fallback never fires."""
        table.append(_df(spark, [(1, "a")]))
        table.append(
            spark.createDataFrame(
                [(2, "b", 9)], "k bigint, v string, extra bigint"
            )
        )
        table.rename_column("v", "vv")
        from pyspark.sql.readwriter import DataFrameReader

        orig = DataFrameReader.option

        def _poison(self, key, value):
            assert key != "mergeSchema", "recorded-schema path must be used"
            return orig(self, key, value)

        monkeypatch.setattr(DataFrameReader, "option", _poison)
        cur = table.read()
        assert set(cur.columns) == {"k", "vv", "extra"}
        by_k = {r["k"]: (r["vv"], r["extra"]) for r in cur.collect()}
        assert by_k == {1: ("a", None), 2: ("b", 9)}

    def test_schema_commit_reads_no_footers(self, spark, table, monkeypatch):
        """rename/drop on an engine-written table must not open parquet
        footers driver-side: poison pyarrow.parquet.ParquetFile."""
        table.append(_df(spark, [(1, "a")]))
        table.append(
            spark.createDataFrame(
                [(2, "b", 9)], "k bigint, v string, extra bigint"
            )
        )
        table.rename_column("v", "v2")  # bootstraps ids from recorded cols
        import pyarrow.parquet as pq

        def _boom(*a, **k):
            raise AssertionError("footer fallback must not fire")

        monkeypatch.setattr(pq, "ParquetFile", _boom)
        table.rename_column("extra", "bonus")
        cur = table.read()
        assert set(cur.columns) == {"k", "v2", "bonus"}

    def test_schema_survives_expiry_checkpoint(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            expire_snapshots,
        )

        table.append(_df(spark, [(1, "a")]))
        table.append(_df(spark, [(2, "b")]))
        table.append(_df(spark, [(3, "c")]))
        expire_snapshots(table, keep_last=2)
        snap = table.snapshot()
        assert all(
            "__schema__" in snap.stats.get(f, {}) for f in snap.files
        ), "checkpoint must carry __schema__"
        assert _rows(table.read()) == {(1, "a"), (2, "b"), (3, "c")}

    def test_int_then_bigint_reads_widened(self, spark, table):
        """Appends that disagree on a numeric column type read back as
        the widened type — read, merge and rename all plan from the
        log-resolved schema."""
        table.append(spark.createDataFrame([(1, "a")], "k int, v string"))
        table.append(spark.createDataFrame([(2, "b")], "k bigint, v string"))
        out = table.read()
        assert dict(out.dtypes)["k"] == "bigint"
        assert _rows(out) == {(1, "a"), (2, "b")}
        table.merge_upsert(_df(spark, [(2, "B")]), keys=["k"])
        table.rename_column("v", "w")
        assert {(r["k"], r["w"]) for r in table.read().collect()} == {
            (1, "a"),
            (2, "B"),
        }

    def test_bigint_then_double_reads_as_double(self, spark, table):
        """The parquet reader cannot read a bigint file as double: each
        recorded schema scans on its own and casts to the wider type."""
        table.append(_df(spark, [(1, "a")]))
        table.append(spark.createDataFrame([(2.5, "b")], "k double, v string"))
        out = table.read()
        assert dict(out.dtypes)["k"] == "double"
        assert _rows(out) == {(1.0, "a"), (2.5, "b")}

    def test_incompatible_types_raise_before_any_job(self, spark, table):
        from aws_genaric_datapipeline_spark.sources.readers import (
            SchemaMismatchError,
        )

        table.append(spark.createDataFrame([("x", "a")], "k string, v string"))
        table.append(spark.createDataFrame([(2, "b")], "k int, v string"))
        sc = spark.sparkContext
        sc.setJobGroup("txn-schema-mismatch", "txn-schema-mismatch")
        try:
            with pytest.raises(
                SchemaMismatchError, match="'k'.*(string vs int|int vs string)"
            ):
                table.read()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert not sc.statusTracker().getJobIdsForGroup("txn-schema-mismatch")

    def test_live_file_without_schema_record_raises(self, spark, table):
        """The log is the only schema source: a live file whose commit
        lacks ``__schema__`` is an error naming the file, never a
        footer fallback."""
        table.append(_df(spark, [(1, "a")]))
        log = table._log_path(1)
        commit = json.loads(log.read_text())
        for st in commit["stats"].values():
            del st["__schema__"]
        log.write_text(json.dumps(commit))
        with pytest.raises(ValueError, match=commit["adds"][0]):
            table.read()


class TestSnapshotExpiry:
    def test_checkpoint_is_the_snapshot(self, spark, table):
        """One table carrying every kind of log state — a rename, a drop,
        a DV delete, a constraint, a bloom declaration and two partition
        transforms: every retained version's snapshot is identical
        before and after expiry, because the checkpoint IS the
        serialized snapshot."""
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            append_clustered,
            expire_snapshots,
            set_bloom_filter,
            set_partition_transform,
        )

        table.append(
            spark.createDataFrame(
                [(1, "a", "x"), (2, "b", "y")], "k bigint, v string, w string"
            )
        )
        set_partition_transform(table, "truncate", "k", n=10)
        set_partition_transform(table, "bucket", "k", n=4)
        append_clustered(
            table,
            spark.createDataFrame([(11, "c", "z")], "k bigint, v string, w string"),
            num_files=1,
        )
        set_bloom_filter(table, "k", num_bits=64, k=2)
        table.set_constraint("k_pos", "k > 0")
        table.rename_column("v", "vv")
        table.drop_column("w")
        table.delete_keys_dv(spark.createDataFrame([(1,)], "k bigint"), ["k"])
        table.append(spark.createDataFrame([(3, "d")], "k bigint, vv string"))
        latest = table.latest_version()
        before = {v: table.snapshot(v) for v in (latest - 1, latest)}
        def rows():
            return {(r["k"], r["vv"]) for r in table.read().collect()}

        want = rows()
        assert before[latest].dvs and before[latest].schemas
        assert expire_snapshots(table, keep_last=2)
        assert {v: table.snapshot(v) for v in before} == before
        assert rows() == want == {(2, "b"), (11, "c"), (3, "d")}
        with pytest.raises(ValueError, match="expired"):
            table.snapshot(latest - 2)

    def _build(self, spark, table):
        # v1..v4: two appends, an overwrite, another append
        table.append(_df(spark, [(1, "a")]))
        table.append(_df(spark, [(2, "b")]))
        table.overwrite(_df(spark, [(3, "c")]))
        table.append(_df(spark, [(4, "d")]))

    def test_expiry_bounds_time_travel_and_preserves_retained(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import expire_snapshots

        self._build(spark, table)
        before_v3 = _rows(table.read(3))
        before_v4 = _rows(table.read(4))

        expired = expire_snapshots(table, keep_last=2)
        assert expired == [1, 2]
        # retained versions replay bit-identically from the checkpoint
        assert _rows(table.read(3)) == before_v3 == {(3, "c")}
        assert _rows(table.read(4)) == before_v4 == {(3, "c"), (4, "d")}
        assert table.latest_version() == 4
        # expired versions fail loudly, not empty
        with pytest.raises(ValueError, match="expired"):
            table.read(2)
        # history shows the checkpoint as the new base
        ops = [h["op"] for h in table.history()]
        assert ops == ["checkpoint", "append"]

    def test_vacuum_reclaims_only_expired_backing_files(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import expire_snapshots

        self._build(spark, table)
        # files added by v1/v2 back time travel only; before expiry vacuum
        # must keep them, after expiry it must drop exactly them
        assert table.vacuum() == []
        pre = set(table.live_files(2))
        expire_snapshots(table, keep_last=2)
        dropped = set(table.vacuum())
        assert dropped == pre  # v1+v2 files (removed by v3's overwrite)
        # the table still reads at every retained version
        assert _rows(table.read()) == {(3, "c"), (4, "d")}
        assert _rows(table.read(3)) == {(3, "c")}

    def test_expiry_is_idempotent_and_writes_continue(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import expire_snapshots

        self._build(spark, table)
        expire_snapshots(table, keep_last=2)
        assert expire_snapshots(table, keep_last=2) == []
        v5 = table.append(_df(spark, [(5, "e")]))
        assert v5 == 5
        assert _rows(table.read()) == {(3, "c"), (4, "d"), (5, "e")}
        # a second expiry can now shrink the window further
        assert expire_snapshots(table, keep_last=1) == [3, 4]
        assert _rows(table.read()) == {(3, "c"), (4, "d"), (5, "e")}
        with pytest.raises(ValueError, match="expired"):
            table.read(4)

    def test_crash_window_cannot_resurrect_expired_removes(self, spark, table):
        """Round-10 ADVICE (high): if a crash — or a concurrent reader —
        catches the log BETWEEN the checkpoint swap and the unlink of the
        expired commit files, replay sees commits 1..cutoff-1 AND the
        checkpoint.  The `base: True` reset must make the checkpoint
        authoritative, so files removed by the cutoff's overwrite are not
        resurrected (pre-fix: reads returned deleted+duplicate rows,
        permanently after a crash in that window)."""
        import json

        from aws_genaric_datapipeline_spark.pipeline.txn import expire_snapshots

        self._build(spark, table)  # v3 is an overwrite that removes v1+v2 files
        # snapshot the expired commit payloads, as a crashed unlink would
        saved = {
            v: table._log_path(v).read_text() for v in (1, 2)
        }
        expire_snapshots(table, keep_last=2)
        # simulate the crash window: expired logs are back on disk alongside
        # the checkpoint (exactly the state between os.replace and unlink)
        for v, payload in saved.items():
            table._log_path(v).write_text(payload)
        try:
            # replay over [v1, v2, checkpoint(v3), v4] must equal the
            # checkpointed snapshot — no v1/v2 files resurrected
            ckpt = json.loads(table._log_path(3).read_text())
            assert ckpt.get("base") is True
            assert set(table.live_files(3)) == set(ckpt["adds"])
            assert _rows(table.read(3)) == {(3, "c")}
            assert _rows(table.read(4)) == {(3, "c"), (4, "d")}
        finally:
            for v in saved:
                table._log_path(v).unlink(missing_ok=True)

    def test_checkpoint_carries_pruning_stats(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import expire_snapshots

        table.append(_df(spark, [(1, "a"), (2, "b")]))
        table.append(_df(spark, [(100, "x")]))
        table.append(_df(spark, [(200, "y")]))
        expire_snapshots(table, keep_last=1)
        # stats survived the checkpoint rewrite (empty part files have no
        # footer stats — they are read unconditionally, which is correct)
        stats = table.file_stats()
        assert any("k" in s for s in stats.values())
        got = _rows(table.read_pruned("k", lower=150))
        assert got == {(200, "y")}


class TestChangeDataFeed:
    def test_insert_update_delete_classified(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import table_changes

        table.overwrite(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
        table.overwrite(_df(spark, [(1, "a"), (2, "B"), (4, "d")]))
        got = {
            (r["k"], r["change_type"], r["old_v"], r["new_v"])
            for r in table_changes(table, 1, 2, keys=["k"]).collect()
        }
        assert got == {
            (2, "update_postimage", "b", "B"),
            (3, "delete", "c", None),
            (4, "insert", None, "d"),
        }

    def test_bootstrap_from_version_zero_is_all_inserts(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import table_changes

        table.append(_df(spark, [(1, "a"), (2, "b")]))
        got = table_changes(table, 0, 1, keys=["k"])
        assert {r["change_type"] for r in got.collect()} == {"insert"}
        assert got.count() == 2

    def test_compaction_produces_empty_feed(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            compact,
            table_changes,
        )

        table.append(_df(spark, [(1, "a")]))
        table.append(_df(spark, [(2, "b")]))
        compact(table)
        assert table_changes(table, 2, 3, keys=["k"]).count() == 0

    def test_evolution_added_column_diffs_as_update(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import table_changes

        table.overwrite(_df(spark, [(1, "a")]))
        evolved = spark.createDataFrame(
            [(1, "a", 9)], "k bigint, v string, w bigint"
        )
        table.overwrite(evolved)
        rows = table_changes(table, 1, 2, keys=["k"]).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["change_type"] == "update_postimage"
        assert r["old_w"] is None and r["new_w"] == 9


class TestPrunedMerge:
    def _seed_ranged(self, spark, table):
        # three appends with disjoint key ranges -> three file groups with
        # disjoint [min, max] stats
        table.append(_df(spark, [(1, "a"), (5, "b")]))
        table.append(_df(spark, [(100, "c"), (150, "d")]))
        table.append(_df(spark, [(1000, "e"), (1500, "f")]))

    def test_narrow_delta_touches_one_range_and_equals_full_merge(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            TxnTable,
            merge_upsert_pruned,
        )

        self._seed_ranged(spark, table)
        before = set(table.live_files())
        delta = _df(spark, [(100, "C2"), (120, "new")])

        # reference: full merge on a twin table
        twin = TxnTable(spark, str(table.path.parent / "twin"))
        twin.append(table.read())
        twin.merge_upsert(delta, keys=["k"])
        want = _rows(twin.read())

        out = merge_upsert_pruned(table, delta, key="k")
        assert _rows(table.read()) == want
        # only the middle range's files were rewritten
        assert out["n_carried"] > 0
        untouched = before & set(table.live_files())
        assert len(untouched) == out["n_carried"]
        # carried files are the SAME physical files (never rewritten)
        assert all(f in before for f in untouched)

    def test_out_of_range_delta_is_pure_insert_no_rewrites(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import merge_upsert_pruned

        self._seed_ranged(spark, table)
        before = set(table.live_files())
        out = merge_upsert_pruned(table, _df(spark, [(5000, "z")]), key="k")
        assert out["n_touched"] == 0
        assert before <= set(table.live_files())
        assert (5000, "z") in _rows(table.read())

    def test_empty_delta_is_a_noop(self, spark, table):
        """Round-10 ADVICE (low): an empty updates frame used to crash with
        TypeError (min/max come back None and the stats loop compared
        against None); it must be a content no-op instead."""
        from aws_genaric_datapipeline_spark.pipeline.txn import merge_upsert_pruned

        self._seed_ranged(spark, table)
        v, want = table.latest_version(), _rows(table.read())
        n_files = len(table.live_files())
        out = merge_upsert_pruned(table, _df(spark, []).limit(0), key="k")
        assert out == {"version": v, "n_touched": 0, "n_carried": n_files}
        assert table.latest_version() == v
        assert _rows(table.read()) == want

    def test_empty_delta_on_empty_table_is_a_noop(self, spark, table):
        """Code-review finding (round 10): the empty-delta check must run
        BEFORE the empty-table branch, so an empty first micro-batch does
        not commit a junk version 1 or consume its app_txn_id."""
        from aws_genaric_datapipeline_spark.pipeline.txn import merge_upsert_pruned

        out = merge_upsert_pruned(
            table, _df(spark, []).limit(0), key="k", app_txn_id="first"
        )
        assert out == {"version": 0, "n_touched": 0, "n_carried": 0}
        assert table.latest_version() == 0
        assert not table.is_committed("first")  # txn id NOT consumed
        # the same app txn id can later commit real data
        out2 = merge_upsert_pruned(
            table, _df(spark, [(1, "a")]), key="k", app_txn_id="first"
        )
        assert out2["version"] == 1
        assert _rows(table.read()) == {(1, "a")}

    def test_all_null_key_delta_appends_without_rewrites(self, spark, table):
        """All-NULL-key delta: NULL never equi-matches an existing key, so
        the correct merge is a pure append with every base file carried
        (pre-fix: TypeError comparing bigint stats against None)."""
        from aws_genaric_datapipeline_spark.pipeline.txn import merge_upsert_pruned

        self._seed_ranged(spark, table)
        before = set(table.live_files())
        out = merge_upsert_pruned(table, _df(spark, [(None, "nul")]), key="k")
        assert out["n_touched"] == 0
        assert out["n_carried"] == len(before)
        assert before <= set(table.live_files())
        assert (None, "nul") in _rows(table.read())

    def test_idempotent_and_conflict_paths(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            TxnConflict,
            merge_upsert_pruned,
        )

        self._seed_ranged(spark, table)
        merge_upsert_pruned(table, _df(spark, [(5, "B")]), key="k", app_txn_id="p1")
        v = table.latest_version()
        out = merge_upsert_pruned(
            table, _df(spark, [(5, "B")]), key="k", app_txn_id="p1"
        )
        assert out["version"] == v == table.latest_version()
        # losing the version race must raise and clean up staged files
        orig = table._try_commit
        table._try_commit = lambda *a, **kw: False
        try:
            with pytest.raises(TxnConflict):
                merge_upsert_pruned(table, _df(spark, [(5, "B3")]), key="k")
        finally:
            table._try_commit = orig
        assert table.vacuum() == []  # the loser unlinked its own adds
        assert table.latest_version() == v


class TestStreamingCdcPipeline:
    """End-to-end composition: a file STREAM of change rows drains through
    foreachBatch into the txn table via idempotent MERGE commits, and the
    change data feed then reports exactly the net row-level effect — the
    full streaming-CDC-into-lakehouse loop (stream source → exactly-once
    upsert → incremental downstream)."""

    def test_stream_merge_then_cdf_reports_net_changes(self, spark, table, tmp_path):
        from aws_genaric_datapipeline_spark.pipeline.txn import table_changes

        table.overwrite(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
        v_seed = table.latest_version()

        src = tmp_path / "changes"
        _df(spark, [(2, "B"), (4, "d")]).write.parquet(str(src))
        stream = spark.readStream.schema("k bigint, v string").parquet(str(src))

        def apply_batch(batch_df, batch_id):
            table.merge_upsert(
                batch_df, keys=["k"], app_txn_id=f"cdc-{batch_id}"
            )

        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        v_after = table.latest_version()
        assert _rows(table.read()) == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}

        # redelivery of the same batch is a no-op commit
        apply_batch(_df(spark, [(2, "B"), (4, "d")]), 0)
        assert table.latest_version() == v_after

        got = {
            (r["k"], r["change_type"], r["old_v"], r["new_v"])
            for r in table_changes(table, v_seed, v_after, keys=["k"]).collect()
        }
        assert got == {
            (2, "update_postimage", "b", "B"),
            (4, "insert", None, "d"),
        }


class TestCompactionTargetSize:
    def test_target_rows_controls_output_file_count(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import compact

        for lo in (0, 100, 200, 300):
            table.append(_df(spark, [(lo + i, f"v{lo + i}") for i in range(25)]))
        before = _rows(table.read())
        # 100 rows total, target 30 -> ceil(100/30) = 4 data files
        compact(table, target_rows=30)
        data_files = [
            f
            for f in table.live_files()
            if table.file_stats().get(f, {}).get("__rows__", 0) > 0
        ]
        assert len(data_files) == 4
        assert _rows(table.read()) == before


class TestTags:
    def test_tag_resolves_across_later_writes(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            list_tags,
            read_tag,
            set_tag,
        )

        table.append(_df(spark, [(1, "a")]))
        set_tag(table, "train-run-47")
        table.overwrite(_df(spark, [(9, "z")]))
        assert _rows(read_tag(table, "train-run-47")) == {(1, "a")}
        assert list_tags(table) == {"train-run-47": 1}
        # tagging a non-committed version is rejected
        import pytest as _pytest

        with _pytest.raises(ValueError, match="not a committed"):
            set_tag(table, "bogus", version=99)
        with _pytest.raises(ValueError, match="unknown tag"):
            read_tag(table, "nope")

    def test_refs_file_does_not_corrupt_the_commit_log(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import set_tag

        table.append(_df(spark, [(1, "a")]))
        set_tag(table, "t1")
        # log operations must ignore refs.json in the log dir
        assert table.latest_version() == 1
        assert [h["version"] for h in table.history()] == [1]
        table.append(_df(spark, [(2, "b")]))
        assert table.latest_version() == 2

    def test_expiry_refuses_to_drop_tagged_versions(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            delete_tag,
            expire_snapshots,
            read_tag,
            set_tag,
        )

        table.append(_df(spark, [(1, "a")]))
        table.append(_df(spark, [(2, "b")]))
        table.append(_df(spark, [(3, "c")]))
        set_tag(table, "audit", version=1)
        with pytest.raises(ValueError, match="tagged"):
            expire_snapshots(table, keep_last=1)
        assert _rows(read_tag(table, "audit")) == {(1, "a")}
        delete_tag(table, "audit")
        assert expire_snapshots(table, keep_last=1) == [1, 2]


class TestDeleteKeys:
    """Transactional row-level DELETE (left-anti rewrite, strict OCC)."""

    def test_delete_removes_only_matching_keys(self, spark, table):
        table.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
        v = table.delete_keys(
            spark.createDataFrame([(2,)], "k bigint"), ["k"]
        )
        assert v == 2
        assert _rows(table.read()) == {(1, "a"), (3, "c")}
        # time travel still sees the pre-delete snapshot
        assert _rows(table.read(version=1)) == {(1, "a"), (2, "b"), (3, "c")}

    def test_delete_is_idempotent_with_app_txn_id(self, spark, table):
        table.append(_df(spark, [(1, "a"), (2, "b")]))
        v1 = table.delete_keys(
            spark.createDataFrame([(1,)], "k bigint"), ["k"], app_txn_id="d1"
        )
        v2 = table.delete_keys(
            spark.createDataFrame([(1,)], "k bigint"), ["k"], app_txn_id="d1"
        )
        assert v1 == v2 == table.latest_version()
        assert _rows(table.read()) == {(2, "b")}

    def test_delete_from_empty_table_is_a_noop(self, spark, table):
        assert table.delete_keys(
            spark.createDataFrame([(1,)], "k bigint"), ["k"]
        ) == 0
        assert table.latest_version() == 0

    def test_concurrent_commit_conflicts(self, spark, table, tmp_path):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            TxnConflict,
            TxnTable,
        )

        table.append(_df(spark, [(1, "a"), (2, "b")]))
        # interloper commits between our snapshot pin and our commit
        orig = table._try_commit

        def race(version, *a, **k):
            TxnTable(spark, str(table.path)).append(_df(spark, [(9, "z")]))
            table._try_commit = orig
            return orig(version, *a, **k)

        table._try_commit = race
        with pytest.raises(TxnConflict, match="delete based on version"):
            table.delete_keys(
                spark.createDataFrame([(1,)], "k bigint"), ["k"]
            )
        # the interloper's row is intact, ours never half-applied
        assert (9, "z") in _rows(table.read())
        assert (1, "a") in _rows(table.read())


class TestTxnEvolution:
    """rename_column / drop_column via per-column FIELD IDS: metadata-only
    commits, old files keep write-era physical names, reads resolve
    physical -> logical by id, time travel shows era-correct names, and
    CDF across a rename boundary stays correct."""

    def test_rename_maps_old_files_and_time_travel(self, spark, table):
        table.append(_df(spark, [(1, "a")]))            # v1: old physical 'v'
        v_ren = table.rename_column("v", "val")         # v2: metadata only
        table.append(                                   # v3: new physical 'val'
            spark.createDataFrame([(2, "b")], "k bigint, val string")
        )
        assert sorted(table.read().columns) == ["k", "val"]
        assert {(r["k"], r["val"]) for r in table.read().collect()} == {
            (1, "a"),
            (2, "b"),
        }
        # time travel BEFORE the rename shows the old name
        assert sorted(table.read(version=1).columns) == ["k", "v"]
        # rename was metadata-only: no data files added or removed
        ren = next(c for c in table._commits() if c["version"] == v_ren)
        assert ren["op"] == "rename_column" and not ren["adds"] and not ren["removes"]

    def test_drop_hides_column_and_fresh_id_on_name_reuse(self, spark, table):
        table.append(_df(spark, [(1, "a")]))
        table.drop_column("v")
        assert table.read().columns == ["k"]
        assert table.read(version=1).columns == ["k", "v"]  # pre-drop
        # re-adding a column NAMED v gets a fresh field id: old data never
        # resurrects under the reused name
        table.append(spark.createDataFrame([(2, "B")], "k bigint, v string"))
        got = {(r["k"], r["v"]) for r in table.read().collect()}
        assert got == {(1, None), (2, "B")}

    def test_rename_drop_then_readd_name_is_visible(self, spark, table):
        """Regression (round-12 review): after rename v→w then drop w, a
        LATER append that re-uses the name w must surface — the stale
        {old_fid: 'w'} era mapping used to claim the fresh physical
        column and silently hide it from reads (data loss)."""
        table.append(_df(spark, [(1, "a")]))                # v1
        table.rename_column("v", "w")                       # v2
        table.drop_column("w")                              # v3
        table.append(                                       # v4: name reuse
            spark.createDataFrame([(2, "B")], "k bigint, w string")
        )
        assert sorted(table.read().columns) == ["k", "w"]
        got = {(r["k"], r["w"]) for r in table.read().collect()}
        assert got == {(1, None), (2, "B")}
        # era reads stay correct: v1 file's physical 'v' is still fid1
        assert sorted(table.read(version=2).columns) == ["k", "w"]
        assert {(r["k"], r["w"]) for r in table.read(version=2).collect()} == {
            (1, "a")
        }

    def test_rename_then_rename_and_swap_names(self, spark, table):
        table.append(_df(spark, [(1, "a")]))
        table.rename_column("v", "w")
        table.rename_column("k", "v")  # reuse the vacated name
        assert sorted(table.read().columns) == ["v", "w"]
        assert {(r["v"], r["w"]) for r in table.read().collect()} == {(1, "a")}

    def test_validation_errors(self, spark, table):
        table.append(_df(spark, [(1, "a")]))
        with pytest.raises(ValueError, match="no such column"):
            table.rename_column("zz", "y")
        with pytest.raises(ValueError, match="already exists"):
            table.rename_column("v", "k")
        with pytest.raises(ValueError, match="no such column"):
            table.drop_column("zz")

    def test_cdf_across_rename_boundary(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import table_changes

        table.append(_df(spark, [(1, "a"), (2, "b")]))      # v1
        table.rename_column("v", "val")                     # v2: pure rename
        table.merge_upsert(                                 # v3: real change
            spark.createDataFrame([(2, "B")], "k bigint, val string"),
            keys=["k"],
        )
        # the pure-rename version diffs as EMPTY — no phantom changes
        assert table_changes(table, 1, 2, ["k"]).count() == 0
        # across the boundary the renamed column diffs as itself
        diff = {
            (r["k"], r["change_type"], r["old_val"], r["new_val"])
            for r in table_changes(table, 1, 3, ["k"]).collect()
        }
        assert diff == {(2, "update_postimage", "b", "B")}

    def test_expire_preserves_field_id_resolution(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            expire_snapshots,
        )

        table.append(_df(spark, [(1, "a")]))                # v1 (old names)
        table.rename_column("v", "val")                     # v2
        table.append(
            spark.createDataFrame([(2, "b")], "k bigint, val string")
        )                                                   # v3
        table.append(
            spark.createDataFrame([(3, "c")], "k bigint, val string")
        )                                                   # v4
        expired = expire_snapshots(table, keep_last=2)      # drops v1, v2
        assert expired == [1, 2]
        # v1's file still carries physical 'v'; the carried schema history
        # + original add versions must keep mapping it to 'val'
        assert {(r["k"], r["val"]) for r in table.read().collect()} == {
            (1, "a"),
            (2, "b"),
            (3, "c"),
        }

    def test_read_pruned_resolves_stats_through_rename(self, spark, table):
        """File skipping stays ACTIVE on evolved tables: stats live under
        physical write-era names, and the skip resolves logical → field
        id → per-file physical name (Iceberg stats-by-field-id shape)."""
        table.append(_df(spark, [(1, "a"), (2, "b")]))    # file range k=[1,2]
        table.append(_df(spark, [(8, "h"), (9, "i")]))    # file range k=[8,9]
        table.rename_column("k", "key")
        got = {
            (r["key"], r["v"])
            for r in table.read_pruned("key", lower=8, upper=9).collect()
        }
        assert got == {(8, "h"), (9, "i")}
        # white-box: the logical key resolves to the old physical name for
        # pre-rename files, so their committed [min,max] stats still prune
        snap = table.snapshot()
        stats = snap.stats
        v1_files = [f for f, v in snap.add_versions.items() if v == 1]
        assert v1_files and all(
            snap.stat(f, "key") == stats[f].get("k") for f in v1_files
        )
        # at least one v1 part file carries k-stats, and they are keyed
        # under the PHYSICAL name (empty part files carry none)
        ranged = [stats[f]["k"] for f in v1_files if "k" in stats.get(f, {})]
        assert ranged and all(1 <= mn <= mx <= 2 for mn, mx in ranged)

    def test_pruned_merge_prunes_and_merges_through_rename(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            merge_upsert_pruned,
        )

        table.append(_df(spark, [(1, "a"), (2, "b")]))    # keys [1,2]
        table.append(_df(spark, [(8, "h")]))              # keys [8,8]
        table.rename_column("v", "val")
        res = merge_upsert_pruned(
            table,
            spark.createDataFrame([(2, "B"), (3, "c")], "k bigint, val string"),
            key="k",
        )
        assert res["version"] == 4
        # the [8,8] file is OUTSIDE the delta envelope [2,3]: pruning must
        # stay active through the rename (stats resolved by field id)
        assert res["n_carried"] >= 1 and res["n_touched"] >= 1
        assert {(r["k"], r["val"]) for r in table.read().collect()} == {
            (1, "a"),
            (2, "B"),
            (3, "c"),
            (8, "h"),
        }


class TestDeletionVectors:
    """Merge-on-read row deletes (delete_keys_dv): positional deletion
    vectors instead of copy-on-write file rewrites — read-path
    application, union on re-delete, compaction folding, CDF parity,
    pruned-merge safety, time travel, vacuum/expiry continuity."""

    def _seed(self, spark, table):
        for lo in (0, 100, 200):
            table.append(
                _df(spark, [(lo + i, f"v{lo + i}") for i in range(10)])
            )

    def test_dv_delete_matches_cow_without_rewriting_files(
        self, spark, tmp_path, table
    ):
        self._seed(spark, table)
        files_before = table.live_files()
        keys = spark.createDataFrame([(3,), (105,), (201,)], "k bigint")
        v = table.delete_keys_dv(keys, ["k"])
        assert v == 4
        # no data file added or removed — the whole point
        assert table.live_files() == files_before
        c = table.history()[-1]
        assert c["op"] == "delete_dv" and c["n_adds"] == c["n_removes"] == 0
        # content identical to the copy-on-write delete on a twin table
        twin = TxnTable(spark, str(tmp_path / "twin"))
        self._seed(spark, twin)
        twin.delete_keys(keys, ["k"])
        assert _rows(table.read()) == _rows(twin.read())
        assert table.read().count() == 27

    def test_time_travel_shows_predelete_rows(self, spark, table):
        self._seed(spark, table)
        table.delete_keys_dv(spark.createDataFrame([(3,)], "k bigint"), ["k"])
        assert (3, "v3") in _rows(table.read(version=3))
        assert (3, "v3") not in _rows(table.read())

    def test_second_delete_unions_with_existing_vector(self, spark, table):
        self._seed(spark, table)
        table.delete_keys_dv(spark.createDataFrame([(1,)], "k bigint"), ["k"])
        table.delete_keys_dv(spark.createDataFrame([(2,)], "k bigint"), ["k"])
        got = _rows(table.read())
        assert (1, "v1") not in got and (2, "v2") not in got
        assert len(got) == 28

    def test_compaction_folds_vectors_in(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import compact

        self._seed(spark, table)
        table.delete_keys_dv(
            spark.createDataFrame([(3,), (105,)], "k bigint"), ["k"]
        )
        want = _rows(table.read())
        compact(table)
        assert table.dv_map() == {}
        assert _rows(table.read()) == want
        assert len(table.live_files()) == 1

    def test_cdf_reports_dv_deletes(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import table_changes

        self._seed(spark, table)
        v0 = table.latest_version()
        table.delete_keys_dv(
            spark.createDataFrame([(3,), (105,)], "k bigint"), ["k"]
        )
        feed = table_changes(table, v0, table.latest_version(), ["k"]).collect()
        assert {(r["k"], r["change_type"]) for r in feed} == {
            (3, "delete"),
            (105, "delete"),
        }

    def test_pruned_merge_does_not_resurrect_dv_deleted_rows(
        self, spark, table
    ):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            merge_upsert_pruned,
        )

        self._seed(spark, table)
        table.delete_keys_dv(spark.createDataFrame([(3,)], "k bigint"), ["k"])
        # update a DIFFERENT key living in the same file range
        merge_upsert_pruned(
            table, _df(spark, [(5, "V5")]), key="k"
        )
        got = _rows(table.read())
        assert (3, "v3") not in got and (5, "V5") in got

    def test_idempotent_and_noop_paths(self, spark, table):
        self._seed(spark, table)
        v1 = table.delete_keys_dv(
            spark.createDataFrame([(1,)], "k bigint"), ["k"], app_txn_id="dv1"
        )
        v2 = table.delete_keys_dv(
            spark.createDataFrame([(1,)], "k bigint"), ["k"], app_txn_id="dv1"
        )
        assert v1 == v2 == table.latest_version()
        # no matching rows => content no-op, no commit, app id unconsumed
        v3 = table.delete_keys_dv(
            spark.createDataFrame([(999,)], "k bigint"), ["k"], app_txn_id="dv2"
        )
        assert v3 == table.latest_version() and not table.is_committed("dv2")

    def test_vacuum_keeps_vector_files(self, spark, table):
        self._seed(spark, table)
        table.delete_keys_dv(spark.createDataFrame([(1,)], "k bigint"), ["k"])
        want = _rows(table.read())
        assert table.vacuum() == []
        assert _rows(table.read()) == want

    def test_expiry_checkpoint_carries_vectors(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            expire_snapshots,
        )

        self._seed(spark, table)
        table.delete_keys_dv(spark.createDataFrame([(1,)], "k bigint"), ["k"])
        table.append(_df(spark, [(300, "v300")]))
        want = _rows(table.read())
        expire_snapshots(table, keep_last=1)
        table.vacuum()
        assert _rows(table.read()) == want
        assert (1, "v1") not in want

    def test_dv_on_renamed_table_resolves_keys(self, spark, table):
        """DV delete keyed on a RENAMED column: the era-mapped read
        surfaces old files under the new logical name, so the semi-join
        matches and positions record against the physical files."""
        self._seed(spark, table)
        table.rename_column("k", "kk")
        table.delete_keys_dv(
            spark.createDataFrame([(3,)], "kk bigint"), ["kk"]
        )
        got = {(r["kk"], r["v"]) for r in table.read().collect()}
        assert (3, "v3") not in got and len(got) == 29


class TestClusterZorder:
    """OPTIMIZE ... ZORDER BY as a txn commit (cluster_zorder): content
    preserved, 2-D box predicates open fewer files than the unclustered
    layout, time travel keeps the old layout, DVs fold in."""

    def _grid(self, spark):
        rows = [(x, y, f"r{x}-{y}") for x in range(32) for y in range(32)]
        return spark.createDataFrame(rows, "x bigint, y bigint, v string")

    def test_box_predicate_opens_fewer_files_after_clustering(
        self, spark, table
    ):
        from aws_genaric_datapipeline_spark.pipeline.txn import cluster_zorder

        # unclustered seed: hash-shuffled into 8 files, so every file
        # spans the full range of both columns — a box predicate prunes
        # nothing
        table.append(self._grid(spark).repartition(8))
        preds = [("x", 0, 7), ("y", 0, 7)]
        before = len(table.prune_files(preds))
        assert before == 8
        want = _rows_xy(table.read())
        v = cluster_zorder(table, "x", "y", num_files=8, bits=5)
        assert table.history()[-1]["op"] == "cluster"
        after = len(table.prune_files(preds))
        assert after < before
        # content unchanged, pruned read exact, time travel keeps layout
        assert _rows_xy(table.read()) == want
        got = {
            (r["x"], r["y"])
            for r in table.read_pruned_multi(preds).collect()
        }
        assert got == {(x, y) for x in range(8) for y in range(8)}
        assert _rows_xy(table.read(version=v - 1)) == want

    def test_cluster_folds_deletion_vectors(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import cluster_zorder

        table.append(self._grid(spark).repartition(8))
        table.delete_keys_dv(
            spark.createDataFrame([(0, 0), (31, 31)], "x bigint, y bigint"),
            ["x", "y"],
        )
        want = _rows_xy(table.read())
        cluster_zorder(table, "x", "y", num_files=8, bits=5)
        assert table.dv_map() == {}
        assert _rows_xy(table.read()) == want and len(want) == 1022

    def test_idempotent_by_app_txn(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import cluster_zorder

        table.append(self._grid(spark).repartition(4))
        v1 = cluster_zorder(table, "x", "y", app_txn_id="z1")
        v2 = cluster_zorder(table, "x", "y", app_txn_id="z1")
        assert v1 == v2 == table.latest_version()


def _rows_xy(df):
    return {(r["x"], r["y"], r["v"]) for r in df.collect()}


class TestClusterHilbert:
    """curve="hilbert" variant of the cluster rewrite: same commit and
    pruning machinery, stronger locality (no diagonal jumps)."""

    def test_hilbert_matches_reference_bijection(self, spark):
        from aws_genaric_datapipeline_spark.operators.layout import (
            hilbert_value,
        )

        def ref_xy2d(n, x, y):
            d, s = 0, n // 2
            while s > 0:
                rx = 1 if (x & s) > 0 else 0
                ry = 1 if (y & s) > 0 else 0
                d += s * s * ((3 * rx) ^ ry)
                if ry == 0:
                    if rx == 1:
                        x, y = s - 1 - x, s - 1 - y
                    x, y = y, x
                s //= 2
            return d

        bits, n = 4, 16
        rows = [(x, y) for x in range(n) for y in range(n)]
        df = spark.createDataFrame(rows, "x bigint, y bigint").withColumn(
            "h", hilbert_value(F.col("x"), F.col("y"), bits)
        )
        got = {(r["x"], r["y"]): r["h"] for r in df.collect()}
        assert got == {(x, y): ref_xy2d(n, x, y) for x, y in rows}
        assert len(set(got.values())) == n * n  # a bijection — no UDF, pure JVM

    def test_hilbert_cluster_prunes_and_preserves_content(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import cluster_zorder

        rows = [(x, y, f"r{x}-{y}") for x in range(32) for y in range(32)]
        table.append(
            spark.createDataFrame(
                rows, "x bigint, y bigint, v string"
            ).repartition(8)
        )
        preds = [("x", 0, 7), ("y", 0, 7)]
        assert len(table.prune_files(preds)) == 8
        want = _rows_xy(table.read())
        cluster_zorder(table, "x", "y", num_files=8, bits=5, curve="hilbert")
        assert len(table.prune_files(preds)) < 8
        assert _rows_xy(table.read()) == want
        got = {
            (r["x"], r["y"])
            for r in table.read_pruned_multi(preds).collect()
        }
        assert got == {(x, y) for x in range(8) for y in range(8)}

    def test_unknown_curve_rejected(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import cluster_zorder

        table.append(_df(spark, [(1, "a")]))
        with pytest.raises(ValueError, match="unknown curve"):
            cluster_zorder(table, "k", "k", curve="peano")


class TestClusterIncremental:
    """Liquid-clustering maintenance: only the unclustered tail rewrites;
    the clustered bulk's files are untouched (cost and conflict window
    track the tail, not the table)."""

    def _grid(self, spark, x0, x1):
        rows = [(x, y, f"r{x}-{y}") for x in range(x0, x1) for y in range(32)]
        return spark.createDataFrame(rows, "x bigint, y bigint, v string")

    def test_tail_only_rewrite_preserves_content_and_prunes(
        self, spark, table
    ):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            cluster_incremental,
            cluster_zorder,
        )

        table.append(self._grid(spark, 0, 32).repartition(8))
        cluster_zorder(table, "x", "y", num_files=8, bits=5)
        bulk = set(table.live_files())
        # a day's appends arrive hash-scattered
        table.append(self._grid(spark, 32, 40).repartition(4))
        want = _rows_xy(table.read())
        out = cluster_incremental(table, "x", "y", num_files=4, bits=5)
        assert out["n_clustered"] == 4 and out["n_untouched"] == 8
        # the clustered bulk's files survived untouched
        assert bulk <= set(table.live_files())
        assert _rows_xy(table.read()) == want
        # 2-D pruning now covers the tail too: a box in the NEW x-range
        # must not open every tail file
        preds = [("x", 32, 35), ("y", 0, 7)]
        chosen = set(table.prune_files(preds))
        assert bulk & chosen == set()  # old range fully pruned by x-stats
        assert len(chosen - bulk) < 4
        got = {
            (r["x"], r["y"])
            for r in table.read_pruned_multi(preds).collect()
        }
        assert got == {(x, y) for x in range(32, 36) for y in range(8)}

    def test_noop_when_everything_is_clustered(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            cluster_incremental,
            cluster_zorder,
        )

        table.append(self._grid(spark, 0, 8).repartition(2))
        cluster_zorder(table, "x", "y", num_files=2, bits=4)
        v = table.latest_version()
        out = cluster_incremental(table, "x", "y")
        assert out == {"version": v, "n_clustered": 0, "n_untouched": 2}
        assert table.latest_version() == v

    def test_idempotent_by_app_txn(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            cluster_incremental,
        )

        table.append(self._grid(spark, 0, 8).repartition(2))
        v1 = cluster_incremental(table, "x", "y", app_txn_id="ci1")["version"]
        out2 = cluster_incremental(table, "x", "y", app_txn_id="ci1")
        assert out2["n_clustered"] == 0 and v1 == table.latest_version()

    def test_reads_the_log_once(self, spark, table, monkeypatch):
        """The clustered files come from the snapshot fold: the commit log
        is walked once, not a second time to find cluster commits."""
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            cluster_incremental,
            cluster_zorder,
        )

        table.append(self._grid(spark, 0, 8).repartition(2))
        cluster_zorder(table, "x", "y", num_files=2, bits=4)
        clustered = set(table.live_files())
        table.append(self._grid(spark, 8, 12).repartition(2))
        walks = []
        orig = table.commits_iter
        monkeypatch.setattr(
            table, "commits_iter", lambda *a, **k: walks.append(1) or orig(*a, **k)
        )
        assert table.snapshot().clustered == frozenset(clustered)
        walks.clear()
        out = cluster_incremental(table, "x", "y", num_files=1, bits=4)
        assert out["n_clustered"] == 2 and out["n_untouched"] == 2
        assert len(walks) == 1


class TestCheckConstraints:
    """Delta-style CHECK constraints: metadata commits, batch-sized
    enforcement at every write path, nothing visible from a rejected
    batch, expiry checkpoints carry the live set."""

    def test_violating_batch_rejected_atomically(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            ConstraintViolation,
        )

        table.append(_df(spark, [(1, "a")]))
        table.set_constraint("k_positive", "k > 0")
        v = table.latest_version()
        with pytest.raises(ConstraintViolation, match="k_positive"):
            table.append(_df(spark, [(2, "b"), (-5, "bad")]))
        assert table.latest_version() == v
        assert _rows(table.read()) == {(1, "a")}
        # a clean batch still lands
        table.append(_df(spark, [(2, "b")]))
        assert (2, "b") in _rows(table.read())

    def test_null_predicate_counts_as_violation(self, spark, table):
        """A predicate that evaluates to NULL (not FALSE) on the bad row
        — ``v >= 'a'`` with v = NULL — pins the conservative
        NULL-is-a-violation branch of _validate_adds."""
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            ConstraintViolation,
        )

        table.append(_df(spark, [(1, "a")]))
        table.set_constraint("v_ge_a", "v >= 'a'")
        with pytest.raises(ConstraintViolation, match="v_ge_a"):
            table.append(
                spark.createDataFrame([(3, None)], "k bigint, v string")
            )

    def test_set_constraint_null_rule_matches_validate_adds(
        self, spark, table
    ):
        """ADD CONSTRAINT uses the SAME NULL-is-a-violation rule as write
        validation: a snapshot holding a NULL-predicate row is rejected
        up front, so a snapshot that passes set_constraint can never have
        its identical rows rejected by a later append."""
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            ConstraintViolation,
        )

        table.append(
            spark.createDataFrame([(1, "a"), (2, None)], "k bigint, v string")
        )
        with pytest.raises(ConstraintViolation, match="existing snapshot"):
            table.set_constraint("v_ge_a", "v >= 'a'")
        assert table.constraints() == {}

    def test_concurrent_set_constraint_revalidated_in_retry_loop(
        self, spark, table, tmp_path
    ):
        """A set_constraint landing between an append's validation and its
        winning commit must still gate that batch: simulate the race by
        committing the constraint through a SECOND handle the moment the
        appender's first validation returns."""
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            ConstraintViolation,
            TxnTable,
        )

        table.append(_df(spark, [(1, "a")]))
        other = TxnTable(spark, str(table.path))
        calls = {"n": 0}
        orig = table._validate_adds

        def racy_validate(adds, live):
            # call 1 = the first attempt's validation (sees no
            # constraints); land the concurrent set_constraint right
            # after it, before that attempt publishes
            orig(adds, live)
            calls["n"] += 1
            if calls["n"] == 1:
                other.set_constraint("k_positive", "k > 0")

        table._validate_adds = racy_validate
        try:
            with pytest.raises(ConstraintViolation, match="k_positive"):
                table.append(_df(spark, [(-7, "bad")]))
        finally:
            table._validate_adds = orig
        # nothing from the rejected batch is visible
        assert _rows(table.read()) == {(1, "a")}

    def test_set_constraint_validates_existing_snapshot(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            ConstraintViolation,
        )

        table.append(_df(spark, [(-1, "a")]))
        with pytest.raises(ConstraintViolation, match="existing snapshot"):
            table.set_constraint("k_positive", "k > 0")
        assert table.constraints() == {}

    def test_merge_and_pruned_merge_enforce(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            ConstraintViolation,
            merge_upsert_pruned,
        )

        table.append(_df(spark, [(1, "a")]))
        table.set_constraint("k_positive", "k > 0")
        with pytest.raises(ConstraintViolation):
            table.merge_upsert(_df(spark, [(-2, "x")]), keys=["k"])
        with pytest.raises(ConstraintViolation):
            merge_upsert_pruned(table, _df(spark, [(-3, "y")]), key="k")
        assert _rows(table.read()) == {(1, "a")}

    def test_drop_constraint_and_expiry_carry(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            ConstraintViolation,
            expire_snapshots,
        )

        table.append(_df(spark, [(1, "a")]))
        table.set_constraint("k_positive", "k > 0")
        table.append(_df(spark, [(2, "b")]))
        expire_snapshots(table, keep_last=1)
        # the checkpoint carried the constraint across expiry
        assert table.constraints() == {"k_positive": "k > 0"}
        with pytest.raises(ConstraintViolation):
            table.append(_df(spark, [(-1, "z")]))
        table.drop_constraint("k_positive")
        table.append(_df(spark, [(-1, "z")]))
        assert (-1, "z") in _rows(table.read())


class TestTimestampTravelAndRestore:
    """TIMESTAMP AS OF resolution and RESTORE TABLE semantics."""

    def test_read_as_of_resolves_commit_times(self, spark, table):
        import json as _json

        table.append(_df(spark, [(1, "a")]))
        table.append(_df(spark, [(2, "b")]))
        t1 = _json.loads(table._log_path(1).read_text())["committed_at"]
        t2 = _json.loads(table._log_path(2).read_text())["committed_at"]
        assert _rows(table.read_as_of(t1)) == {(1, "a")}
        assert _rows(table.read_as_of((t1 + t2) / 2)) == {(1, "a")}
        assert _rows(table.read_as_of(t2 + 10)) == {(1, "a"), (2, "b")}
        with pytest.raises(ValueError, match="no commit at or before"):
            table.read_as_of(t1 - 10)

    def test_restore_is_metadata_only_and_preserves_history(
        self, spark, table
    ):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            restore_version,
            table_changes,
        )

        table.append(_df(spark, [(1, "a"), (2, "b")]))
        table.overwrite(_df(spark, [(9, "oops")]))
        n_data_files = len(
            list((table.path / table.DATA_DIR).glob("*.parquet"))
        )
        v = restore_version(table, 1)
        assert v == 3 and table.history()[-1]["op"] == "restore"
        assert _rows(table.read()) == {(1, "a"), (2, "b")}
        # metadata-only: no new data file was written
        assert (
            len(list((table.path / table.DATA_DIR).glob("*.parquet")))
            == n_data_files
        )
        # the bad version stays time-travelable; CDF reports the undo
        assert _rows(table.read(version=2)) == {(9, "oops")}
        feed = table_changes(table, 2, 3, keys=["k"]).collect()
        assert {(r["k"], r["change_type"]) for r in feed} == {
            (1, "insert"),
            (2, "insert"),
            (9, "delete"),
        }

    def test_restore_clears_post_restore_point_deletion_vectors(
        self, spark, table
    ):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            restore_version,
        )

        table.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
        v_clean = table.latest_version()
        table.delete_keys_dv(spark.createDataFrame([(2,)], "k bigint"), ["k"])
        assert _rows(table.read()) == {(1, "a"), (3, "c")}
        restore_version(table, v_clean)
        # the DV added after the restore point is cleared on the shared file
        assert _rows(table.read()) == {(1, "a"), (2, "b"), (3, "c")}
        assert table.dv_map() == {}

    def test_restore_carries_restore_point_vectors(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            restore_version,
        )

        table.append(_df(spark, [(1, "a"), (2, "b")]))
        table.delete_keys_dv(spark.createDataFrame([(1,)], "k bigint"), ["k"])
        v_dv = table.latest_version()
        table.append(_df(spark, [(5, "e")]))
        restore_version(table, v_dv)
        assert _rows(table.read()) == {(2, "b")}
        assert table.dv_map() != {}

    def test_restore_idempotent_and_constraints_stay(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            ConstraintViolation,
            restore_version,
        )

        table.append(_df(spark, [(1, "a")]))
        table.append(_df(spark, [(2, "b")]))
        table.set_constraint("k_positive", "k > 0")
        v1 = restore_version(table, 1, app_txn_id="r1")
        v2 = restore_version(table, 1, app_txn_id="r1")
        assert v1 == v2 == table.latest_version()
        assert _rows(table.read()) == {(1, "a")}
        with pytest.raises(ConstraintViolation):
            table.append(_df(spark, [(-1, "z")]))

    def test_restore_rejects_future_and_expired_versions(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            expire_snapshots,
            restore_version,
        )

        table.append(_df(spark, [(1, "a")]))
        v = table.latest_version()
        with pytest.raises(ValueError, match="not in retained history"):
            restore_version(table, v + 5)
        assert table.latest_version() == v  # no no-op restore committed
        # restore to the pre-first-commit empty table IS valid...
        restore_version(table, 0)
        assert table.live_files() == []
        # ...until expiry truncates the retained window below it
        table.append(_df(spark, [(2, "b")]))
        table.append(_df(spark, [(3, "c")]))
        expire_snapshots(table, keep_last=2)
        with pytest.raises(ValueError, match="not in retained history"):
            restore_version(table, 0)

    def test_restore_validates_constraints_set_after_restore_point(
        self, spark, table
    ):
        """A constraint added AFTER the restore point gates the restore:
        surfacing a violating historical snapshot raises instead of
        silently making it current.  A restore point that satisfies the
        later constraint still restores (and only constraints newer than
        the restore point trigger the validating scan at all)."""
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            ConstraintViolation,
            restore_version,
        )

        table.append(_df(spark, [(-1, "old")]))  # v1: violates future rule
        v_bad = table.latest_version()
        table.overwrite(_df(spark, [(5, "e")]))  # v2: clean
        v_clean = table.latest_version()
        table.overwrite(_df(spark, [(6, "f")]))  # v3
        table.set_constraint("k_positive", "k > 0")  # v4, after all three
        with pytest.raises(ConstraintViolation, match="k_positive"):
            restore_version(table, v_bad)
        assert _rows(table.read()) == {(6, "f")}  # restore never committed
        restore_version(table, v_clean)
        assert _rows(table.read()) == {(5, "e")}


class TestStreamingQualityGate:
    def test_violating_micro_batch_fails_stream_without_partial_commit(
        self, spark, table, tmp_path
    ):
        """CHECK constraints as a streaming ingest quality gate: the
        exactly-once sink validates each micro-batch BEFORE its files
        become visible, so a poisoned batch kills the stream with
        ConstraintViolation and the table keeps only the clean batches —
        never a partial commit.  Restarting after fixing the source
        resumes exactly-once."""
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            exactly_once_stream_sink,
        )

        table.append(_df(spark, [(1, "seed")]))
        table.set_constraint("k_positive", "k > 0")
        src = str(tmp_path / "batches")
        _df(spark, [(2, "ok")]).coalesce(1).write.mode("append").parquet(src)
        _df(spark, [(-3, "poison")]).coalesce(1).write.mode("append").parquet(
            src
        )

        q = (
            spark.readStream.schema("k bigint, v string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(exactly_once_stream_sink(table, "gate"))
            .option("checkpointLocation", str(tmp_path / "ckpt_gate"))
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(Exception, match="k_positive"):
            q.awaitTermination()
        got = _rows(table.read())
        assert (2, "ok") in got and all(k > 0 for k, _ in got)


class TestDvConcurrency:
    def test_dv_delete_conflicts_with_concurrent_commit(self, spark, table):
        """A DV delete pins a snapshot like every writer: if another data
        commit lands first, the delete raises TxnConflict and its vector
        file never becomes visible."""
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            TxnConflict,
            TxnTable,
        )

        table.append(_df(spark, [(1, "a"), (2, "b")]))
        orig = table._try_commit

        def race(version, *a, **k):
            TxnTable(spark, str(table.path)).append(_df(spark, [(9, "z")]))
            table._try_commit = orig
            return orig(version, *a, **k)

        table._try_commit = race
        with pytest.raises(TxnConflict, match="DV delete based on version"):
            table.delete_keys_dv(
                spark.createDataFrame([(1,)], "k bigint"), ["k"]
            )
        got = _rows(table.read())
        assert (1, "a") in got and (9, "z") in got
        assert table.dv_map() == {}


class TestZorderMulti:
    def test_three_column_interleave_prunes_every_dimension(self, spark, table):
        """K-column Morton interleave: after clustering a 3-D grid by
        zorder_value_multi, a narrow predicate on ANY single dimension
        prunes files (single-column sorting only ever helps its leading
        column)."""
        from aws_genaric_datapipeline_spark.operators.layout import (
            zorder_value_multi,
        )

        rows = [
            (x, y, z)
            for x in range(16)
            for y in range(16)
            for z in range(16)
        ]
        df = spark.createDataFrame(rows, "x bigint, y bigint, z bigint")
        zc = zorder_value_multi([F.col("x"), F.col("y"), F.col("z")], bits=4)
        table.append(
            df.withColumn("__m", zc)
            .repartitionByRange(8, "__m")
            .sortWithinPartitions("__m")
            .drop("__m")
        )
        assert len(table.live_files()) == 8
        for col in ("x", "y", "z"):
            assert len(table.prune_files([(col, 0, 3)])) < 8, col
        got = {
            (r["x"], r["y"], r["z"])
            for r in table.read_pruned_multi(
                [("x", 0, 3), ("y", 0, 3), ("z", 0, 3)]
            ).collect()
        }
        assert got == {
            (x, y, z) for x in range(4) for y in range(4) for z in range(4)
        }

    def test_validation(self, spark):
        from aws_genaric_datapipeline_spark.operators.layout import (
            zorder_value_multi,
        )

        with pytest.raises(ValueError, match="at least 2"):
            zorder_value_multi([F.col("x")])
        with pytest.raises(ValueError, match="overflows"):
            zorder_value_multi([F.col("x")] * 8, bits=8)


class TestMergeFullSync:
    """MERGE full-sync semantics (WHEN NOT MATCHED BY SOURCE THEN
    DELETE): one commit syncs a replica — upsert + delete-by-absence —
    with the delete side preferring metadata over rewrites (whole-file
    drops outside the source envelope; deletion vectors under a delete
    condition)."""

    def _seed(self, spark, table, n=20, files=4):
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(n)], "k bigint, v string"
        ).repartitionByRange(files, "k")
        table.overwrite(df)
        return df

    def test_unconditional_sync_equals_source(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            merge_full_sync,
        )

        self._seed(spark, table)
        # narrow low-key source: high-key range files sit wholly outside
        # the [2, 4] envelope and must drop metadata-only
        src = _df(spark, [(2, "NEW2"), (3, "v3"), (4, "NEW4")])
        out = merge_full_sync(table, src, "k")
        assert _rows(table.read()) == {(2, "NEW2"), (3, "v3"), (4, "NEW4")}
        # files wholly outside the source envelope dropped metadata-only
        assert out["n_dropped"] >= 1 and out["n_dv_files"] == 0
        # history preserved: pre-sync snapshot still time-travelable
        assert len(_rows(table.read(version=1))) == 20

    def test_conditional_delete_uses_deletion_vectors(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            merge_full_sync,
        )

        self._seed(spark, table)  # keys 0..19 over 4 range files
        n_data = len(list((table.path / table.DATA_DIR).glob("*.parquet")))
        # source covers only low keys; delete-by-absence applies only to
        # even keys — odd unmatched rows must SURVIVE
        src = _df(spark, [(0, "NEW0"), (1, "NEW1")])
        out = merge_full_sync(table, src, "k", delete_condition="k % 2 = 0")
        got = _rows(table.read())
        assert (0, "NEW0") in got and (1, "NEW1") in got
        assert all(k % 2 == 1 for k, _ in got if k > 1)
        assert {k for k, _ in got if k > 1} == {
            k for k in range(2, 20) if k % 2 == 1
        }
        # zero unmatched data files rewritten or dropped: deletes are DVs
        assert out["n_dv_files"] >= 1 and out["n_dropped"] == 0
        live = set(table.live_files())
        data_now = {
            p.name for p in (table.path / table.DATA_DIR).glob("*.parquet")
        }
        # every pre-sync file still on disk (time travel) and the
        # unmatched ones still LIVE (merge-on-read, not rewritten)
        assert len(data_now) >= n_data
        assert out["n_carried"] == len(
            [f for f in live if f in table.dv_map()]
        ) or out["n_carried"] >= out["n_dv_files"]

    def test_dv_union_with_prior_vectors(self, spark, table):
        """A file already carrying a DV gets MORE rows deleted by the
        sync: both generations of deletes must apply (prior vector
        unioned, not replaced)."""
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            merge_full_sync,
        )

        self._seed(spark, table)
        table.delete_keys_dv(
            spark.createDataFrame([(18,)], "k bigint"), ["k"]
        )
        assert (18, "v18") not in _rows(table.read())
        src = _df(spark, [(0, "NEW0")])
        merge_full_sync(table, src, "k", delete_condition="k >= 16")
        got = _rows(table.read())
        assert (18, "v18") not in got  # prior DV survived
        for k in (16, 17, 19):  # new conditional deletes applied
            assert (k, f"v{k}") not in got
        assert (15, "v15") in got  # condition boundary respected

    def test_occ_conflict_window(self, spark, table, tmp_path):
        """A concurrent data commit landing between the sync's snapshot
        pin and its commit must fail the sync (TxnConflict), never lose
        the concurrent writer's rows."""
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            merge_full_sync,
        )

        self._seed(spark, table)
        other = TxnTable(spark, str(table.path))
        orig = table._validate_adds
        fired = {"done": False}

        def racy_validate(adds, live):
            if not fired["done"]:
                fired["done"] = True
                other.append(_df(spark, [(500, "concurrent")]))
            return orig(adds, live)

        table._validate_adds = racy_validate
        try:
            with pytest.raises(TxnConflict, match="full-sync"):
                merge_full_sync(table, _df(spark, [(1, "X")]), "k")
        finally:
            table._validate_adds = orig
        # the concurrent append survived; the failed sync left nothing
        got = _rows(table.read())
        assert (500, "concurrent") in got and (1, "v1") in got

    def test_idempotent_by_app_txn_and_empty_source_truncates(
        self, spark, table
    ):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            merge_full_sync,
        )

        self._seed(spark, table)
        src = _df(spark, [(1, "X")])
        out1 = merge_full_sync(table, src, "k", app_txn_id="s1")
        out2 = merge_full_sync(table, src, "k", app_txn_id="s1")
        assert out1["version"] == out2["version"] == table.latest_version()
        assert _rows(table.read()) == {(1, "X")}
        # empty source + no condition = full truncate (all not-matched)
        merge_full_sync(table, _df(spark, []).limit(0), "k")
        assert table.live_files() == [] or table.read().count() == 0

    def test_constraints_gate_the_sync_batch(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            ConstraintViolation,
            merge_full_sync,
        )

        self._seed(spark, table, n=5)
        table.set_constraint("k_nonneg", "k >= 0")
        with pytest.raises(ConstraintViolation):
            merge_full_sync(table, _df(spark, [(-1, "bad")]), "k")
        assert (1, "v1") in _rows(table.read())


class TestHiddenPartitionTransforms:
    """Iceberg-style hidden partitioning: writes cluster by days(ts) /
    bucket(n, col) into a physical __p_* column that reads never expose,
    and RAW-column predicates prune files through the transform."""

    def _ts_df(self, spark, n_days=8, per_day=6):
        rows = [
            (d * per_day + i, f"2024-03-{d + 1:02d} 0{i}:00:00")
            for d in range(n_days)
            for i in range(per_day)
        ]
        return spark.createDataFrame(rows, "k bigint, ts_s string").select(
            "k", F.col("ts_s").cast("timestamp").alias("ts")
        )

    def test_days_layout_prunes_ts_between(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            append_clustered,
            prune_files_hidden,
            read_pruned_hidden,
            set_partition_transform,
        )

        set_partition_transform(table, "days", "ts")
        append_clustered(table, self._ts_df(spark), num_files=4)
        live = table.live_files()
        assert len(live) == 4
        # the hidden column never surfaces on a logical read
        assert set(table.read().columns) == {"k", "ts"}
        import datetime as dt

        lo = dt.datetime(2024, 3, 2)
        hi = dt.datetime(2024, 3, 3, 23, 59, 59)
        chosen = prune_files_hidden(table, lo, hi)
        assert 0 < len(chosen) < len(live)  # only matching files open
        got = {r["k"] for r in read_pruned_hidden(table, lo, hi).collect()}
        want = {
            r["k"]
            for r in table.read()
            .where(
                (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))
            )
            .collect()
        }
        assert got == want and len(got) == 12

    def test_pruned_read_folds_the_log_once(self, spark, table, monkeypatch):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            append_clustered,
            read_pruned_hidden,
            set_partition_transform,
        )

        set_partition_transform(table, "days", "ts")
        append_clustered(table, self._ts_df(spark), num_files=4)
        folds = []
        orig = table.snapshot
        monkeypatch.setattr(
            table, "snapshot", lambda *a, **k: folds.append(1) or orig(*a, **k)
        )
        import datetime as dt

        read_pruned_hidden(table, dt.datetime(2024, 3, 2), dt.datetime(2024, 3, 3))
        assert len(folds) == 1

    def test_bucket_layout_prunes_equality_where_minmax_cannot(
        self, spark, table
    ):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            append_clustered,
            prune_files_hidden,
            read_pruned_hidden,
            set_partition_transform,
        )

        set_partition_transform(table, "bucket", "k", n=8)
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(400)], "k bigint, v string"
        )
        append_clustered(table, df, num_files=8)
        live = table.live_files()
        # range partitioner may coalesce near-empty bands; several files
        # with disjoint bucket bands is what pruning needs
        assert len(live) >= 4
        # raw min/max barely prunes a hash-bucketed layout (files span
        # wide key ranges); the bucket transform must do strictly better
        raw_kept = table.prune_files([("k", 7, 7)])
        chosen = prune_files_hidden(table, 7, 7)
        assert 0 < len(chosen) < len(raw_kept)
        got = {
            tuple(r) for r in read_pruned_hidden(table, 7, 7).collect()
        }
        assert got == {(7, "v7")}
        with pytest.raises(ValueError, match="equality"):
            prune_files_hidden(table, 3, 9)

    def test_bucket_pruning_survives_int_to_bigint_drift(self, spark, table):
        """Each file hashed the bucket under its own batch's key type
        (xxhash64 of an int differs from that of the same bigint), so a
        probe transforms its literal under every file's recorded type —
        not the widened read type — and finds int-era keys again; pinned
        versions use their own files' types."""
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            append_clustered,
            prune_files_hidden,
            read_pruned_hidden,
            set_partition_transform,
        )

        set_partition_transform(table, "bucket", "k", n=16)
        append_clustered(
            table, spark.range(200).selectExpr("CAST(id AS INT) AS k"), 8
        )
        v_int = table.latest_version()
        append_clustered(table, spark.range(200, 400).selectExpr("id AS k"), 8)
        assert dict(table.read().dtypes)["k"] == "bigint"
        for k in (0, 50, 100, 150, 199, 300):
            assert read_pruned_hidden(table, k, k).count() == 1, k
        assert len(prune_files_hidden(table, 7, 7)) < len(table.live_files())
        assert read_pruned_hidden(table, 42, 42, version=v_int).count() == 1

    def test_transform_survives_expiry_and_plain_appends_stay_correct(
        self, spark, table
    ):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            append_clustered,
            expire_snapshots,
            partition_transform,
            read_pruned_hidden,
            set_partition_transform,
        )

        set_partition_transform(table, "days", "ts")
        append_clustered(table, self._ts_df(spark, n_days=4), num_files=2)
        # a PLAIN append carries no transform stats: it must always be
        # read (conservative), never wrongly pruned
        table.append(
            spark.createDataFrame(
                [(999, "2024-03-02 12:00:00")], "k bigint, ts_s string"
            ).select("k", F.col("ts_s").cast("timestamp").alias("ts"))
        )
        expire_snapshots(table, keep_last=1)
        assert partition_transform(table) == {"kind": "days", "col": "ts"}
        import datetime as dt

        got = {
            r["k"]
            for r in read_pruned_hidden(
                table, dt.datetime(2024, 3, 2), dt.datetime(2024, 3, 2, 23)
            ).collect()
        }
        assert 999 in got and len(got) == 7

    def test_requires_declaration_and_validates_kind(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            append_clustered,
            set_partition_transform,
        )

        with pytest.raises(ValueError, match="set_partition_transform"):
            append_clustered(table, _df(spark, [(1, "a")]))
        with pytest.raises(ValueError, match="kind"):
            set_partition_transform(table, "hours", "ts")
        with pytest.raises(ValueError, match="n >= 1"):
            set_partition_transform(table, "bucket", "k")


class TestRound14ReviewFixes:
    """Regression pins for the round-14 self-review findings: typed
    transform literals, date-typed stats comparisons, and nullness
    resolution on evolved tables."""

    def test_bucket_pruning_casts_literal_to_column_type(self, spark, table):
        """xxhash64 is TYPE-sensitive: hashing a Python-inferred bigint
        literal against an int column computed a different bucket than
        append_clustered wrote and silently pruned the matching file."""
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            append_clustered,
            read_pruned_hidden,
            set_partition_transform,
        )

        set_partition_transform(table, "bucket", "k", n=8)
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(100)], "k int, v string"
        )
        append_clustered(table, df, num_files=8)
        got = {tuple(r) for r in read_pruned_hidden(table, 42, 42).collect()}
        assert got == {(42, "v42")}

    def test_days_pruning_on_date_column_with_footer_stats(
        self, spark, table
    ):
        """Footer stats stringify date scalars; the conjoined raw
        predicate used to compare str vs datetime.date and raise
        TypeError on every hidden-partition read of a date column."""
        import datetime as dt

        from aws_genaric_datapipeline_spark.pipeline.txn import (
            append_clustered,
            prune_files_hidden,
            read_pruned_hidden,
            set_partition_transform,
        )

        set_partition_transform(table, "days", "d")
        rows = [
            (i, dt.date(2024, 3, 1) + dt.timedelta(days=i % 8))
            for i in range(64)
        ]
        append_clustered(
            table,
            spark.createDataFrame(rows, "k bigint, d date"),
            num_files=4,
        )
        lo, hi = dt.date(2024, 3, 3), dt.date(2024, 3, 4)
        chosen = prune_files_hidden(table, lo, hi)
        assert 0 < len(chosen) < len(table.live_files())
        got = {r["k"] for r in read_pruned_hidden(table, lo, hi).collect()}
        want = {i for i in range(64) if i % 8 in (2, 3)}
        assert got == want

    def test_full_sync_and_pruned_merge_on_date_key(self, spark, table):
        """The key-envelope stats comparison used to raise TypeError for
        date keys (str stats vs datetime bounds) — after staging files,
        so the failed sync also leaked orphans."""
        import datetime as dt

        from aws_genaric_datapipeline_spark.pipeline.txn import (
            merge_full_sync,
            merge_upsert_pruned,
        )

        rows = [
            (dt.date(2024, 1, 1) + dt.timedelta(days=i), f"v{i}")
            for i in range(12)
        ]
        table.overwrite(
            spark.createDataFrame(rows, "d date, v string")
            .repartitionByRange(3, "d")
        )
        src = spark.createDataFrame(
            [(dt.date(2024, 1, 2), "NEW")], "d date, v string"
        )
        out = merge_upsert_pruned(table, src, key="d")
        assert out["n_carried"] >= 1  # envelope pruning actually pruned
        got = {(str(r["d"]), r["v"]) for r in table.read().collect()}
        assert ("2024-01-02", "NEW") in got and len(got) == 12
        merge_full_sync(table, src, "d", delete_condition="v = 'v7'")
        got = {(str(r["d"]), r["v"]) for r in table.read().collect()}
        assert ("2024-01-08", "v7") not in got and ("2024-01-02", "NEW") in got

    def test_nullness_conservative_after_drop_and_readd(self, spark, table):
        """A column re-added under a previously dropped name must NOT
        inherit the old column's nulls=0 stats: file A's rows surface as
        NULL on the logical read, so an IS NULL read that trusted the
        stale count silently lost them."""
        table.append(
            spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, c string")
            .coalesce(1)
        )
        table.drop_column("c")
        table.append(
            spark.createDataFrame([(3, "x")], "k bigint, c string")
            .coalesce(1)
        )
        logical = {
            r["k"] for r in table.read().where("c IS NULL").collect()
        }
        pruned = {
            r["k"]
            for r in table.read_pruned_nullness("c", is_null=True).collect()
        }
        assert pruned == logical == {1, 2}


class TestBloomSkipping:
    """Per-file bloom-filter point-lookup skipping (set_bloom_filter +
    prune_files_values): the lookup shape min/max stats can never prune
    on a hash-scattered key."""

    def test_point_lookup_prunes_where_minmax_cannot(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            set_bloom_filter,
        )

        set_bloom_filter(table, "k")
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(2000)], "k bigint, v string"
        ).repartition(8, "k")
        table.append(df)
        live = table.live_files()
        # hash layout: every file's [min, max] spans ~the whole domain,
        # so range stats keep everything; the bloom prunes to ~1 file
        assert len(table.prune_files_values("k", [42])) < len(live)
        got = {
            tuple(r)
            for r in table.read_files(table.prune_files_values("k", [42]))
            .where("k = 42")
            .collect()
        }
        assert got == {(42, "v42")}

    def test_absent_value_prunes_everything(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            set_bloom_filter,
        )

        set_bloom_filter(table, "k")
        table.append(
            spark.createDataFrame(
                [(i, "x") for i in range(500)], "k bigint, v string"
            ).repartition(4, "k")
        )
        # min/max covers 250..? no: 10**9 is far outside -> minmax alone
        # prunes; probe a value INSIDE the range but absent from the data
        # (odd keys only)
        table.overwrite(
            spark.createDataFrame(
                [(2 * i + 1, "x") for i in range(500)], "k bigint, v string"
            ).repartition(4, "k")
        )
        assert table.prune_files_values("k", [500]) == []

    def test_pre_declaration_files_read_conservatively(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            set_bloom_filter,
        )

        table.append(_df(spark, [(1, "old")]).coalesce(1))
        set_bloom_filter(table, "k")
        # post-declaration keys 0..199 EXCEPT 1, hash-scattered: every
        # new file's [min, max] range COVERS the probe k=1, so only the
        # bloom can prune them — deleting the bloom probe would keep all
        table.append(
            spark.createDataFrame(
                [(i, "new") for i in range(200) if i != 1],
                "k bigint, v string",
            ).repartition(2, "k")
        )
        chosen = set(table.prune_files_values("k", [1]))
        # the bloom-less file is kept (its minmax matches), bloom files drop
        assert chosen and len(chosen) < len(table.live_files())
        assert _rows(table.read_files(sorted(chosen)).where("k = 1")) == {
            (1, "old")
        }

    def test_unsupported_type_never_prunes(self, spark, table):
        """A bloom declared on a timestamp column must contribute NO
        bitset (tz-aware vs naive str() spellings differ) — probes keep
        every file rather than risk a wrong skip."""
        import datetime as dt

        from aws_genaric_datapipeline_spark.pipeline.txn import (
            set_bloom_filter,
        )

        set_bloom_filter(table, "ts")
        rows = [
            (i, dt.datetime(2024, 1, 1, i % 24)) for i in range(48)
        ]
        table.append(
            spark.createDataFrame(rows, "k bigint, ts timestamp").coalesce(1)
        )
        stats = table.file_stats()
        assert all("__bloom__" not in s or "ts" not in s["__bloom__"]
                   for s in stats.values())
        assert len(
            table.prune_files_values("ts", [dt.datetime(2024, 1, 1, 3)])
        ) == len(table.live_files())

    def test_expiry_checkpoint_carries_declaration(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            bloom_spec,
            expire_snapshots,
            set_bloom_filter,
        )

        set_bloom_filter(table, "k", num_bits=1024, k=3)
        for i in range(4):
            table.append(_df(spark, [(i, "x")]).coalesce(1))
        expire_snapshots(table, keep_last=2)
        spec = bloom_spec(table)["k"]
        assert (spec["m"], spec["k"]) == (1024, 3)
        # post-expiry writes still get bitsets: check THE new file's
        # stats, not any carried pre-expiry bloom
        before = set(table.live_files())
        table.append(
            spark.createDataFrame(
                [(i, "y") for i in range(50, 80)], "k bigint, v string"
            ).coalesce(1)
        )
        (new_file,) = set(table.live_files()) - before
        assert "k" in (table.file_stats()[new_file].get("__bloom__") or {})


class TestMetadataCount:
    """metadata_count: COUNT(*) answered from the commit log (plus DV
    files when vectors are live) — never a data scan."""

    def test_plain_and_after_dv_delete(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            metadata_count,
        )

        table.append(
            spark.createDataFrame(
                [(i, "g" if i % 3 == 0 else "h") for i in range(100)],
                "k bigint, v string",
            ).repartition(4)
        )
        assert metadata_count(table) == 100
        keys = spark.createDataFrame(
            [(i,) for i in range(0, 100, 3)], "k bigint"
        )
        table.delete_keys_dv(keys, ["k"])
        assert metadata_count(table) == table.read().count() == 66

    def test_counts_without_opening_data_files(self, spark, table, tmp_path):
        """The metadata-only proof: physically delete every data file —
        read() would crash, metadata_count still answers."""
        import os

        from aws_genaric_datapipeline_spark.pipeline.txn import (
            metadata_count,
        )

        table.append(
            spark.createDataFrame(
                [(i, "x") for i in range(50)], "k bigint, v string"
            ).repartition(2)
        )
        for f in table.live_files():
            os.remove(table.path / table.DATA_DIR / f)
        assert metadata_count(table) == 50

    def test_time_travel_and_empty(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            metadata_count,
        )

        assert metadata_count(table) == 0
        v1 = table.append(_df(spark, [(1, "a"), (2, "b")]).coalesce(1))
        table.overwrite(_df(spark, [(9, "z")]).coalesce(1))
        assert metadata_count(table) == 1
        assert metadata_count(table, version=v1) == 2


class TestPartitionEvolution:
    """Iceberg-style partition spec evolution: files written under every
    past spec keep pruning through THEIR transform after the spec
    changes (stats keys encode the transform, so no per-file attribution
    is needed)."""

    @staticmethod
    def _two_era_table(spark, table):
        import datetime as dt

        from aws_genaric_datapipeline_spark.pipeline.txn import (
            append_clustered,
            set_partition_transform,
        )

        set_partition_transform(table, "days", "d")
        rows = [
            (i, dt.date(2024, 3, 1) + dt.timedelta(days=i % 8))
            for i in range(64)
        ]
        append_clustered(
            table,
            spark.createDataFrame(rows, "k bigint, d date"),
            num_files=4,
        )
        era1 = set(table.live_files())
        set_partition_transform(table, "bucket", "d", n=8)
        rows2 = [
            (100 + i, dt.date(2024, 3, 1) + dt.timedelta(days=i % 8))
            for i in range(64)
        ]
        append_clustered(
            table,
            spark.createDataFrame(rows2, "k bigint, d date"),
            num_files=4,
        )
        era2 = set(table.live_files()) - era1
        return era1, era2

    def test_equality_prunes_both_eras(self, spark, table):
        import datetime as dt

        from aws_genaric_datapipeline_spark.pipeline.txn import (
            prune_files_hidden,
            read_pruned_hidden,
        )

        era1, era2 = self._two_era_table(spark, table)
        probe = dt.date(2024, 3, 3)
        chosen = set(prune_files_hidden(table, probe, probe))
        assert era1 - chosen, "days era must prune through days()"
        assert era2 - chosen, "bucket era must prune through bucket()"
        got = {r["k"] for r in read_pruned_hidden(table, probe, probe).collect()}
        assert got == (
            {i for i in range(64) if i % 8 == 2}
            | {100 + i for i in range(64) if i % 8 == 2}
        )

    def test_range_query_on_bucket_current_table(self, spark, table):
        """A range probe no longer raises once ANY era can serve it: the
        days-era files prune through the day band; bucket-era files fall
        back to raw stats (kept unless their raw [min, max] misses)."""
        import datetime as dt

        from aws_genaric_datapipeline_spark.pipeline.txn import (
            prune_files_hidden,
            read_pruned_hidden,
        )

        era1, era2 = self._two_era_table(spark, table)
        lo, hi = dt.date(2024, 3, 3), dt.date(2024, 3, 4)
        chosen = set(prune_files_hidden(table, lo, hi))
        assert era1 - chosen, "days era must still prune a range probe"
        got = {r["k"] for r in read_pruned_hidden(table, lo, hi).collect()}
        assert got == (
            {i for i in range(64) if i % 8 in (2, 3)}
            | {100 + i for i in range(64) if i % 8 in (2, 3)}
        )

    def test_single_bucket_spec_range_still_raises(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            append_clustered,
            prune_files_hidden,
            set_partition_transform,
        )

        set_partition_transform(table, "bucket", "k", n=4)
        append_clustered(
            table,
            spark.createDataFrame([(i, "x") for i in range(20)],
                                  "k bigint, v string"),
            num_files=2,
        )
        with pytest.raises(ValueError, match="equality"):
            prune_files_hidden(table, 1, 5)

    def test_expiry_carries_spec_history(self, spark, table):
        import datetime as dt

        from aws_genaric_datapipeline_spark.pipeline.txn import (
            expire_snapshots,
            partition_transform_history,
            prune_files_hidden,
        )

        era1, era2 = self._two_era_table(spark, table)
        expire_snapshots(table, keep_last=1)
        assert [s["kind"] for s in partition_transform_history(table)] == [
            "days",
            "bucket",
        ]
        probe = dt.date(2024, 3, 3)
        chosen = set(prune_files_hidden(table, probe, probe))
        assert era1 - chosen and era2 - chosen


class TestBloomReviewFixes:
    """Regression pins for the round-14 bloom/evolution review wave."""

    def test_bloom_survives_rename(self, spark, table):
        """Declarations record the FIELD ID: after rename_column the new
        era's files still get bitsets under their physical name, and
        probes on the new logical name still prune."""
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            set_bloom_filter,
        )

        table.append(
            spark.createDataFrame(
                [(i, "x") for i in range(100)], "k bigint, v string"
            ).coalesce(1)
        )
        set_bloom_filter(table, "k")
        table.rename_column("k", "key")
        before = set(table.live_files())
        table.append(
            spark.createDataFrame(
                [(i, "y") for i in range(100, 300)], "key bigint, v string"
            ).repartition(2, "key"),
        )
        new_files = set(table.live_files()) - before
        stats = table.file_stats()
        assert all(
            "key" in (stats[f].get("__bloom__") or {}) for f in new_files
        )
        # probe inside every new file's hash-scattered range but absent
        chosen = set(table.prune_files_values("key", [99]))
        assert not (chosen & new_files), "bloom must prune the new era"

    def test_bloom_declaration_validates_column(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            set_bloom_filter,
        )

        table.append(_df(spark, [(1, "a")]).coalesce(1))
        with pytest.raises(ValueError, match="not in the table"):
            set_bloom_filter(table, "nope")

    def test_hidden_prune_without_bounds_returns_all(self, spark, table):
        """prune_files_hidden(None, None) = no predicate: every live
        file, never a crash in the literal-evaluation path."""
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            append_clustered,
            prune_files_hidden,
            set_partition_transform,
        )

        set_partition_transform(table, "bucket", "k", n=4)
        append_clustered(
            table,
            spark.createDataFrame(
                [(i, "x") for i in range(20)], "k bigint, v string"
            ),
            num_files=2,
        )
        assert set(prune_files_hidden(table)) == set(table.live_files())


class TestMetadataMinMax:
    """metadata_minmax: MIN/MAX from committed stats, scanning ONLY the
    files where stats are not sound (live DV, missing stat, ambiguous
    era resolution)."""

    def test_pure_metadata_when_no_dvs(self, spark, table):
        """No DVs: the answer comes from the log alone — proven by
        physically deleting every data file first."""
        import os

        from aws_genaric_datapipeline_spark.pipeline.txn import (
            metadata_minmax,
        )

        table.append(
            spark.createDataFrame(
                [(i, float(i * 7 % 101)) for i in range(200)],
                "k bigint, x double",
            ).repartition(4)
        )
        for f in table.live_files():
            os.remove(table.path / table.DATA_DIR / f)
        assert metadata_minmax(table, "x") == (0.0, 100.0)

    def test_dv_file_scanned_exactly(self, spark, table):
        """Deleting the max row via DV: only the DV'd file is scanned
        (the others are physically deleted to prove it), and the new
        max is exact."""
        import os

        from aws_genaric_datapipeline_spark.pipeline.txn import (
            metadata_minmax,
        )

        table.append(
            spark.createDataFrame(
                [(i, float(i)) for i in range(100)], "k bigint, x double"
            ).repartitionByRange(4, "x")
        )
        table.delete_keys_dv(
            spark.createDataFrame([(99,)], "k bigint"), ["k"]
        )
        dv_files = set(table.dv_map())
        assert len(dv_files) == 1
        for f in set(table.live_files()) - dv_files:
            os.remove(table.path / table.DATA_DIR / f)
        assert metadata_minmax(table, "x") == (0.0, 98.0)

    def test_evolved_readd_never_trusts_stale_stats(self, spark, table):
        """Strict field-id resolution: a column re-added under a dropped
        name scans instead of trusting the old column's extrema."""
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            metadata_minmax,
        )

        table.append(
            spark.createDataFrame([(1, 500.0)], "k bigint, x double")
            .coalesce(1)
        )
        table.drop_column("x")
        table.append(
            spark.createDataFrame([(2, 7.0)], "k bigint, x double")
            .coalesce(1)
        )
        # old file's rows surface as NULL on x; stale stats said 500
        assert metadata_minmax(table, "x") == (7.0, 7.0)

    def test_empty_and_all_null(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            metadata_minmax,
        )

        assert metadata_minmax(table, "k") == (None, None)
        table.append(
            spark.createDataFrame(
                [(None, "a"), (None, "b")], "k bigint, v string"
            ).coalesce(1)
        )
        assert metadata_minmax(table, "k") == (None, None)


class TestTruncateTransform:
    """Iceberg's truncate[W] transform: floor-to-width for ints, W-char
    prefix for strings — monotonic, so RANGE predicates prune through
    it (the days rule, not the bucket equality-only rule)."""

    def test_int_range_pruning(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            append_clustered,
            prune_files_hidden,
            read_pruned_hidden,
            set_partition_transform,
        )

        set_partition_transform(table, "truncate", "k", n=100)
        append_clustered(
            table,
            spark.createDataFrame(
                [(i, f"v{i}") for i in range(1000)], "k bigint, v string"
            ),
            num_files=5,
        )
        chosen = prune_files_hidden(table, 250, 349)
        assert 0 < len(chosen) < len(table.live_files())
        got = {r["k"] for r in read_pruned_hidden(table, 250, 349).collect()}
        assert got == set(range(250, 350))

    def test_negative_ints_floor_toward_minus_inf(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            append_clustered,
            read_pruned_hidden,
            set_partition_transform,
        )

        set_partition_transform(table, "truncate", "k", n=100)
        append_clustered(
            table,
            spark.createDataFrame(
                [(i, "x") for i in range(-500, 500)], "k bigint, v string"
            ),
            num_files=5,
        )
        got = {
            r["k"] for r in read_pruned_hidden(table, -250, -151).collect()
        }
        assert got == set(range(-250, -150))

    def test_string_prefix_pruning(self, spark, table):
        import string as st

        from aws_genaric_datapipeline_spark.pipeline.txn import (
            append_clustered,
            prune_files_hidden,
            read_pruned_hidden,
            set_partition_transform,
        )

        set_partition_transform(table, "truncate", "v", n=1)
        rows = [
            (i, a + b)
            for i, (a, b) in enumerate(
                (a, b)
                for a in st.ascii_lowercase
                for b in st.ascii_lowercase
            )
        ]
        append_clustered(
            table,
            spark.createDataFrame(rows, "k bigint, v string"),
            num_files=6,
        )
        chosen = prune_files_hidden(table, "ba", "bz")
        assert 0 < len(chosen) < len(table.live_files())
        got = {r["v"] for r in read_pruned_hidden(table, "ba", "bz").collect()}
        assert got == {"b" + c for c in st.ascii_lowercase if c >= "a"}

    def test_evolution_truncate_era_serves_range_probe(self, spark, table):
        """After truncate(100, k) evolves to bucket(8, k), a RANGE probe
        still prunes the truncate era (range-capable like days) without
        raising."""
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            append_clustered,
            prune_files_hidden,
            read_pruned_hidden,
            set_partition_transform,
        )

        set_partition_transform(table, "truncate", "k", n=100)
        append_clustered(
            table,
            spark.createDataFrame(
                [(i, "old") for i in range(1000)], "k bigint, v string"
            ),
            num_files=5,
        )
        era1 = set(table.live_files())
        set_partition_transform(table, "bucket", "k", n=8)
        append_clustered(
            table,
            spark.createDataFrame(
                [(i, "new") for i in range(1000, 1100)],
                "k bigint, v string",
            ),
            num_files=2,
        )
        chosen = set(prune_files_hidden(table, 150, 249))
        assert era1 - chosen, "truncate era must prune the range probe"
        got = {
            (r["k"], r["v"])
            for r in read_pruned_hidden(table, 150, 249).collect()
        }
        assert got == {(i, "old") for i in range(150, 250)}

    def test_validation(self, spark, table):
        from aws_genaric_datapipeline_spark.pipeline.txn import (
            set_partition_transform,
        )

        with pytest.raises(ValueError, match="n >= 1"):
            set_partition_transform(table, "truncate", "k")
