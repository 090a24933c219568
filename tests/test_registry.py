"""Structure of the __spark_entry__ query registry (no SparkSession)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod


def test_names_unique_and_counts():
    names = [q.name for q in entrymod._registry()]
    assert len(names) == len(set(names))
    assert len(entrymod.queries()) == 50
    assert len(entrymod.legacy_queries()) == 9


def test_every_entry_has_an_oracle():
    for q in entrymod._registry():
        assert callable(q.build), q.name
        assert q.oracle.strip(), q.name


def test_oracle_keys_follow_query_keys():
    assert list(entrymod.oracle_sql()) == list(entrymod.queries())
    assert (list(entrymod.legacy_oracle_sql())
            == list(entrymod.legacy_queries()))
    assert not set(entrymod.queries()) & set(entrymod.legacy_queries())


def test_octree_twin_binds_checkpoint_dir_late(monkeypatch):
    marker = "/checkpoint-dir-marker"
    monkeypatch.setattr(entrymod, "_octree_ckpt_dir", lambda sf_dir: marker)
    assert marker in entrymod.oracle_sql()["tiling_octree"]
