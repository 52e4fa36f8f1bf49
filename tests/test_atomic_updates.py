"""Atomic field updates (IndexJob.update_fields): Solr's {"set": ...}
semantics over the sharded artifact — matched docs get the supplied
fields set (including explicit NULL), analyzed fields re-tokenize,
only touched shards rewrite, and every serving sidecar stays exact."""

import pyspark.sql.functions as F
import pytest

from solr_map_reduce_spark.index_reader import SearchIndex
from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
from solr_map_reduce_spark.schema import Field, IndexSchema

SCHEMA = IndexSchema(
    fields=(
        Field("id", "string", required=True),
        Field("text", "text_general"),
        Field("rank", "long"),
    ),
    unique_key="id",
)


def _job(**over):
    cfg = dict(
        schema=SCHEMA, shards=4, dedup="none", routing="native",
        term_blooms=True, search_stats=True,
    )
    cfg.update(over)
    return IndexJob(IndexJobConfig(**cfg))


def _build(spark, path, n=60):
    df = spark.createDataFrame(
        [(str(i), f"alpha common word{i % 5}", i) for i in range(n)],
        "id string, text string, rank long",
    )
    job = _job()
    job.build(df, path)
    return job


def test_set_semantics_and_untouched_fields(spark, tmp_path):
    path = str(tmp_path / "idx")
    job = _build(spark, path)
    upd = spark.createDataFrame(
        [("7", 700), ("9", 900)], "id string, rank long"
    )
    job.update_fields(upd, path)
    idx = SearchIndex.open(spark, path)
    rows = {r["id"]: r for r in idx.get_many(["7", "8", "9"]).collect()}
    assert rows["7"]["rank"] == 700 and rows["9"]["rank"] == 900
    assert rows["8"]["rank"] == 8  # untouched doc
    assert rows["7"]["text"] == "alpha common word2"  # untouched field
    assert idx.count() == 60  # no doc created or lost


def test_set_to_null(spark, tmp_path):
    path = str(tmp_path / "idx")
    job = _build(spark, path)
    upd = spark.createDataFrame([("3", None)], "id string, rank long")
    job.update_fields(upd, path)
    row = SearchIndex.open(spark, path).get("3").collect()[0]
    assert row["rank"] is None  # Solr set-to-null removes the value


def test_analyzed_field_retokenizes_and_stats_stay_exact(spark, tmp_path):
    from solr_map_reduce_spark.search_stats import (
        load_search_stats,
        write_search_stats,
    )

    path = str(tmp_path / "idx")
    job = _build(spark, path)
    upd = spark.createDataFrame(
        [("5", "totally fresh zebra content")], "id string, text string"
    )
    job.update_fields(upd, path)
    idx = SearchIndex.open(spark, path)
    # term queries see the NEW tokens (stored tokens were re-analyzed)
    assert [r["id"] for r in idx.contains_all(["zebra"]).collect()] == ["5"]
    assert "5" not in {r["id"] for r in idx.contains_all(["alpha"]).collect()}
    # delta-maintained stats equal a full rebuild
    delta = load_search_stats(spark, path)
    rebuilt = write_search_stats(spark, path)
    assert delta == rebuilt
    # bm25 finds the new term through the refreshed blooms + stats
    assert [r["id"] for r in idx.bm25(["zebra"], k=3).collect()] == ["5"]


def test_missing_key_policies(spark, tmp_path):
    path = str(tmp_path / "idx")
    job = _build(spark, path)
    ghost = spark.createDataFrame([("no-such", 1)], "id string, rank long")
    with pytest.raises(KeyError, match="no-such"):
        job.update_fields(ghost, path)
    job.update_fields(ghost, path, missing="skip")
    idx = SearchIndex.open(spark, path)
    assert idx.count() == 60 and idx.get("no-such").count() == 0
    job.update_fields(ghost, path, missing="insert")
    idx = SearchIndex.open(spark, path)
    row = idx.get("no-such").collect()[0]
    assert row["rank"] == 1 and row["text"] is None
    assert idx.count() == 61


def test_rejects_bad_batches(spark, tmp_path):
    path = str(tmp_path / "idx")
    job = _build(spark, path)
    with pytest.raises(ValueError, match="duplicate"):
        job.update_fields(
            spark.createDataFrame([("1", 5), ("1", 6)], "id string, rank long"),
            path,
        )
    with pytest.raises(ValueError, match="not in the artifact"):
        job.update_fields(
            spark.createDataFrame([("1", 5)], "id string, bogus long"), path
        )
    with pytest.raises(ValueError, match="__tokens"):
        job.update_fields(
            spark.createDataFrame(
                [("1", ["x"])], "id string, text__tokens array<string>"
            ),
            path,
        )


def test_only_touched_shards_rewritten_and_lookups_stay_pruned(spark, tmp_path):
    import os

    path = str(tmp_path / "idx")
    job = _build(spark, path)
    upd = spark.createDataFrame([("7", 700)], "id string, rank long")
    routed = job.route(
        upd.withColumn("text", F.lit(None).cast("string"))
    ).select("shard").distinct().collect()
    touched = {int(r["shard"]) for r in routed}
    before = {}
    for d in os.listdir(path):
        if d.startswith("shard="):
            s = int(d.split("=")[1])
            before[s] = sorted(os.listdir(os.path.join(path, d)))
    job.update_fields(upd, path)
    for d in os.listdir(path):
        if d.startswith("shard="):
            s = int(d.split("=")[1])
            after = sorted(os.listdir(os.path.join(path, d)))
            if s in touched:
                assert after != before[s]  # rewritten (new file names)
            else:
                assert after == before[s]  # untouched
    idx = SearchIndex.open(spark, path)
    assert idx.get("7").collect()[0]["rank"] == 700
    assert idx.count() == 60  # key-range sidecar refreshed exactly


class TestMutationLock:
    """Advisory exclusivity: two concurrent mutators on one artifact would
    share staging names and interleave swaps — the second must fail fast."""

    def test_concurrent_mutation_rejected_and_lock_cleared(self, spark, tmp_path):
        import os

        from solr_map_reduce_spark.indexing import (
            MUTATION_LOCK,
            ArtifactLockedError,
            clear_mutation_lock,
        )

        path = str(tmp_path / "idx")
        job = _build(spark, path, n=20)
        # simulate a mutation in flight
        with open(os.path.join(path, MUTATION_LOCK), "w") as f:
            f.write('{"op": "merge_into", "pid": 1}')
        upd = spark.createDataFrame([("1", 11)], "id string, rank long")
        with pytest.raises(ArtifactLockedError, match="locked"):
            job.update_fields(upd, path)
        with pytest.raises(ArtifactLockedError):
            job.delete_where(spark, path, F.col("id") == "1")
        with pytest.raises(ArtifactLockedError):
            job.merge_into(
                spark.createDataFrame(
                    [("99", "t", 1)], "id string, text string, rank long"
                ),
                path,
            )
        # operator clears the stale lock; mutations proceed and re-release
        assert clear_mutation_lock(path) is True
        job.update_fields(upd, path)
        assert not os.path.exists(os.path.join(path, MUTATION_LOCK))
        idx = SearchIndex.open(spark, path)
        assert idx.get("1").collect()[0]["rank"] == 11

    def test_lock_released_on_python_failure(self, spark, tmp_path):
        import os

        from solr_map_reduce_spark.indexing import MUTATION_LOCK

        path = str(tmp_path / "idx")
        job = _build(spark, path, n=20)
        # a batch that fails INSIDE the locked section (Spark job error:
        # rank column carries a non-castable value via a poisoned plan)
        bad = spark.createDataFrame([("1", "x")], "id string, text string")
        bad = bad.withColumn(
            "rank", F.raise_error(F.lit("boom")).cast("long")
        ).select("id", "rank")
        with pytest.raises(Exception, match="boom"):
            job.update_fields(bad, path)
        # Python-level failure released the advisory lock
        assert not os.path.exists(os.path.join(path, MUTATION_LOCK))

    def test_acquire_is_atomic_create_exclusive(self, tmp_path):
        """ADVICE r5: exists-then-write races — two mutators can both pass
        the exists check.  The primitive must be create-if-absent."""
        from solr_map_reduce_spark.fs import LocalFS

        fs = LocalFS()
        lock = str(tmp_path / "_LOCK")
        assert fs.create_exclusive(lock, "first") is True
        # a second creator loses and the first writer's body is intact
        assert fs.create_exclusive(lock, "second") is False
        assert fs.read_text(lock) == "first"

    def test_lock_body_carries_owner_metadata(self, tmp_path):
        import json
        import os
        import socket

        from solr_map_reduce_spark.fs import LocalFS
        from solr_map_reduce_spark.indexing import MUTATION_LOCK, _mutation_lock

        path = str(tmp_path)
        with _mutation_lock(LocalFS(), path, "test-op"):
            with open(os.path.join(path, MUTATION_LOCK)) as f:
                info = json.load(f)
            assert info["op"] == "test-op"
            assert info["pid"] == os.getpid()
            assert info["host"] == socket.gethostname()
            assert info["ts"] > 0 and info["token"]
        assert not os.path.exists(os.path.join(path, MUTATION_LOCK))

    def test_inspect_reports_liveness(self, tmp_path):
        import json
        import os
        import socket
        import subprocess

        from solr_map_reduce_spark.indexing import (
            MUTATION_LOCK,
            inspect_mutation_lock,
        )

        path = str(tmp_path)
        assert inspect_mutation_lock(path) is None
        # a lock held by THIS live process
        with open(os.path.join(path, MUTATION_LOCK), "w") as f:
            json.dump({"op": "merge_into", "pid": os.getpid(),
                       "host": socket.gethostname(), "ts": 1.0}, f)
        assert inspect_mutation_lock(path)["pid_alive_here"] is True
        # a lock held by a DEAD process (spawn + reap a child for its pid)
        child = subprocess.Popen(["true"])
        child.wait()
        with open(os.path.join(path, MUTATION_LOCK), "w") as f:
            json.dump({"op": "compact", "pid": child.pid,
                       "host": socket.gethostname(), "ts": 1.0}, f)
        assert inspect_mutation_lock(path)["pid_alive_here"] is False

    def test_cli_unlock_refuses_then_forces(self, tmp_path, capsys):
        import json
        import os

        from solr_map_reduce_spark import cli
        from solr_map_reduce_spark.indexing import MUTATION_LOCK

        path = str(tmp_path)
        assert cli.main(["unlock", "--path", path]) == 0  # not locked
        assert json.loads(capsys.readouterr().out)["locked"] is False
        with open(os.path.join(path, MUTATION_LOCK), "w") as f:
            json.dump({"op": "merge_into", "pid": 1, "host": "h", "ts": 1.0}, f)
        # without --force: inspect only, non-zero exit, lock stays
        assert cli.main(["unlock", "--path", path]) == 1
        out = json.loads(capsys.readouterr().out)
        assert out["owner"]["op"] == "merge_into" and out["removed"] is False
        assert os.path.exists(os.path.join(path, MUTATION_LOCK))
        # with --force: removed
        assert cli.main(["unlock", "--path", path, "--force"]) == 0
        assert json.loads(capsys.readouterr().out)["removed"] is True
        assert not os.path.exists(os.path.join(path, MUTATION_LOCK))


def test_update_with_solr_composite_routing(spark, tmp_path):
    """Placement under routing='solr' (the SolrCloud-parity hash ring) must
    agree between build and update — an update routed to the wrong shard
    would duplicate the doc instead of setting its field."""
    path = str(tmp_path / "idx_solr")
    job = _job(routing="solr", micro_shards=8)
    df = spark.createDataFrame(
        [(str(i), f"alpha word{i % 5}", i) for i in range(40)],
        "id string, text string, rank long",
    )
    job.build(df, path)
    job.update_fields(
        spark.createDataFrame([("11", 1100)], "id string, rank long"), path
    )
    idx = SearchIndex.open(spark, path)
    rows = idx.get("11").collect()
    assert len(rows) == 1 and rows[0]["rank"] == 1100  # set once, no dup
    assert idx.count() == 40


def test_mutation_rejects_placement_mismatch(spark, tmp_path):
    """A mutation run with a different shard count or routing mode than the
    artifact was built with would place keys in the wrong shard and
    silently duplicate documents — both incremental paths must refuse."""
    path = str(tmp_path / "idx")
    _build(spark, path, n=20)
    wrong_shards = _job(shards=2)
    upd = spark.createDataFrame([("1", 11)], "id string, rank long")
    with pytest.raises(ValueError, match="places keys differently"):
        wrong_shards.update_fields(upd, path)
    wrong_routing = _job(routing="solr", micro_shards=8)
    with pytest.raises(ValueError, match="places keys differently"):
        wrong_routing.merge_into(
            spark.createDataFrame(
                [("99", "t", 1)], "id string, text string, rank long"
            ),
            path,
        )

    def test_transient_lock_readback_failure_keeps_our_lock(self, tmp_path, monkeypatch):
        """Self-review r6: a read failure AFTER a successful exclusive
        create must not raise (which would strand our own lock file) —
        creation is the authoritative signal."""
        import os

        from solr_map_reduce_spark.fs import LocalFS
        from solr_map_reduce_spark.indexing import MUTATION_LOCK, _mutation_lock

        orig = LocalFS.read_text

        def flaky(self, p):
            if p.endswith(MUTATION_LOCK):
                raise OSError("transient read failure")
            return orig(self, p)

        monkeypatch.setattr(LocalFS, "read_text", flaky)
        path = str(tmp_path)
        ran = False
        with _mutation_lock(LocalFS(), path, "test-op"):
            ran = True
            assert os.path.exists(os.path.join(path, MUTATION_LOCK))
        assert ran
        assert not os.path.exists(os.path.join(path, MUTATION_LOCK))


class TestAtomicOps:
    """Round-8: the remaining Solr atomic-update operations — inc on
    numerics, add / add-distinct / remove on multiValued (array)
    columns."""

    SCHEMA_MV = IndexSchema(
        fields=(
            Field("id", "string", required=True),
            Field("rank", "long"),
            Field("tags", "string", multi_valued=True),
        ),
        unique_key="id",
    )

    def _build(self, spark, path):
        df = spark.createDataFrame(
            [("1", 10, ["a", "b"]), ("2", 20, None), ("3", None, ["x"])],
            "id string, rank long, tags array<string>",
        )
        job = IndexJob(IndexJobConfig(schema=self.SCHEMA_MV, shards=2,
                                      dedup="none", routing="native"))
        job.build(df, path)
        return job

    def _rows(self, spark, path):
        from solr_map_reduce_spark.indexing import read_index

        return {
            r["id"]: r
            for r in read_index(spark, path).orderBy("id").collect()
        }

    def test_inc(self, spark, tmp_path):
        path = str(tmp_path / "inc")
        job = self._build(spark, path)
        upd = spark.createDataFrame(
            [("1", 5), ("3", 7)], "id string, rank long"
        )
        job.update_fields(upd, path, ops={"rank": "inc"})
        rows = self._rows(spark, path)
        assert rows["1"]["rank"] == 15
        assert rows["2"]["rank"] == 20       # untouched
        assert rows["3"]["rank"] == 7        # inc on NULL starts from 0

    def test_inc_null_delta_is_noop(self, spark, tmp_path):
        path = str(tmp_path / "incnull")
        job = self._build(spark, path)
        upd = spark.createDataFrame([("1", None)], "id string, rank long")
        job.update_fields(upd, path, ops={"rank": "inc"})
        assert self._rows(spark, path)["1"]["rank"] == 10

    def test_add_and_add_distinct(self, spark, tmp_path):
        path = str(tmp_path / "add")
        job = self._build(spark, path)
        upd = spark.createDataFrame(
            [("1", ["b", "c"]), ("2", ["z"])], "id string, tags array<string>"
        )
        job.update_fields(upd, path, ops={"tags": "add"})
        rows = self._rows(spark, path)
        assert rows["1"]["tags"] == ["a", "b", "b", "c"]  # add keeps dups
        assert rows["2"]["tags"] == ["z"]                 # add to NULL
        upd2 = spark.createDataFrame(
            [("1", ["c", "d"])], "id string, tags array<string>"
        )
        job.update_fields(upd2, path, ops={"tags": "add-distinct"})
        rows = self._rows(spark, path)
        assert rows["1"]["tags"] == ["a", "b", "b", "c", "d"]

    def test_remove(self, spark, tmp_path):
        path = str(tmp_path / "rm")
        job = self._build(spark, path)
        upd = spark.createDataFrame(
            [("1", ["b", "nope"])], "id string, tags array<string>"
        )
        job.update_fields(upd, path, ops={"tags": "remove"})
        rows = self._rows(spark, path)
        assert rows["1"]["tags"] == ["a"]
        assert rows["3"]["tags"] == ["x"]  # untouched

    def test_removeregex(self, spark, tmp_path):
        path = str(tmp_path / "rmrx")
        job = self._build(spark, path)
        # full-match anchoring (Java matches()): 'a.*' removes 'a' but
        # 'b' survives a pattern that merely CONTAINS-matches it
        upd = spark.createDataFrame(
            [("1", ["a.*"]), ("3", ["[yz]"])],
            "id string, tags array<string>",
        )
        job.update_fields(upd, path, ops={"tags": "removeregex"})
        rows = self._rows(spark, path)
        assert rows["1"]["tags"] == ["b"]
        assert rows["3"]["tags"] == ["x"]  # no full match -> untouched
        # multiplicity preserved for survivors, NULL update is a no-op
        upd2 = spark.createDataFrame(
            [("1", None)], "id string, tags array<string>"
        )
        job.update_fields(upd2, path, ops={"tags": "removeregex"})
        assert self._rows(spark, path)["1"]["tags"] == ["b"]

    def test_remove_on_insert_creates_empty(self, spark, tmp_path):
        path = str(tmp_path / "rmins")
        job = self._build(spark, path)
        upd = spark.createDataFrame(
            [("99", ["gone"])], "id string, tags array<string>"
        )
        job.update_fields(upd, path, missing="insert", ops={"tags": "remove"})
        rows = self._rows(spark, path)
        assert rows["99"]["tags"] is None  # never the removal list

    def test_bad_ops_are_loud(self, spark, tmp_path):
        path = str(tmp_path / "bad")
        job = self._build(spark, path)
        upd = spark.createDataFrame([("1", 5)], "id string, rank long")
        with pytest.raises(ValueError, match="unknown atomic op"):
            job.update_fields(upd, path, ops={"rank": "mult"})
        with pytest.raises(ValueError, match="absent from the update batch"):
            job.update_fields(upd, path, ops={"tags": "add"})
