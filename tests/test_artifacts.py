"""The per-corpus session store (queries/registry.artifact) and the
per-app scratch root (queries/registry.scratch_dir)."""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from types import SimpleNamespace

from txf_continuous_data_pipeline_spark.queries import registry


def _copied_corpus(sf_dir, tmp_path, table="region"):
    src = os.path.join(sf_dir, f"{table}.parquet")
    dst = tmp_path / f"{table}.parquet"
    shutil.copyfile(src, dst)
    return str(tmp_path), dst


def _rewrite(path):
    """Rewrite a corpus file in place; the bumped mtime makes the new
    stamp differ even on filesystems with coarse timestamps."""
    data = path.read_bytes()
    path.write_bytes(data)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))


def test_same_stamp_returns_the_same_object(spark, sf_dir, tmp_path):
    corpus, _ = _copied_corpus(sf_dir, tmp_path)
    builds = []

    def build():
        builds.append(1)
        return spark.range(3).persist()

    first = registry.artifact(spark, corpus, "region", "t_same", build)
    second = registry.artifact(spark, corpus, "region", "t_same", build)
    assert second is first
    assert len(builds) == 1
    first.unpersist()


def test_rewritten_corpus_rebuilds_and_releases_superseded(
    spark, sf_dir, tmp_path
):
    corpus, path = _copied_corpus(sf_dir, tmp_path)
    other = registry.artifact(
        spark, corpus, "region", "t_other", lambda: spark.range(2).persist()
    )
    old = registry.artifact(
        spark, corpus, "region", "t_bars", lambda: spark.range(3).persist()
    )
    assert old.is_cached

    _rewrite(path)
    new = registry.artifact(
        spark, corpus, "region", "t_bars", lambda: spark.range(3).persist()
    )
    assert new is not old
    assert not old.is_cached
    assert new.is_cached
    # only the rebuilt name is released; other artifacts of the corpus
    # are dropped on their own next miss
    assert other.is_cached
    other.unpersist()
    new.unpersist()


def test_release_hook_removes_the_app_scratch_root(monkeypatch):
    app = f"local-{uuid.uuid4().hex}"
    fake = SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))
    hooks = []
    monkeypatch.setattr(
        registry.atexit, "register", lambda fn, *a: hooks.append((fn, a))
    )

    path = registry.scratch_dir(fake, "jsonl('/data/sf', (1.5, 7))")
    again = registry.scratch_dir(fake, "orc")
    root = os.path.join(tempfile.gettempdir(), f"spark_graft_{app}")
    assert os.path.dirname(path) == root == os.path.dirname(again)
    assert len(hooks) == 1  # one hook per app root

    os.makedirs(path)
    open(os.path.join(path, "part-0"), "w").close()
    fn, args = hooks[0]
    fn(*args)
    assert not os.path.exists(root)


def test_query_writers_stay_under_the_app_scratch_root(spark, sf_dir):
    from txf_continuous_data_pipeline_spark.queries.text_curation import (
        _jsonl_path,
    )

    root = os.path.dirname(registry.scratch_dir(spark, "probe"))
    path = _jsonl_path(spark, sf_dir)
    assert os.path.dirname(path) == root
    assert os.listdir(path)
