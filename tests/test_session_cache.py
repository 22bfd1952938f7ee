"""Session-cache lifecycle: a regenerated fixture invalidates every
cached family AND releases its storage (persisted frames and
localCheckpoint blocks alike)."""

from __future__ import annotations

import os
import shutil

from pydra_map_reduce_spark.plans import REGISTRY
from pydra_map_reduce_spark.sources.tables import session_cache_report

from .conftest import SF_DIR

_SF0001_DIR = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.001")

# one consumer per storage shape: localCheckpoint'd model tables, an
# IvfIndex (persisted flat + checkpointed cents/assigned), the xxhash
# entry with its side-pinned shingle frame, the persisted portable
# shingle index, and the DISK_ONLY apriori baskets
_CONSUMERS = {
    "bigram_greedy_decode": "bigram_lm",
    "ivf_ann_serve": "ivf_index",
    "minhash_lsh_neardup": "xxhash_sigs_cand",
    "lsh_recall": "portable_shingles",
    "apriori_triples": "apriori_baskets",
}
_TABLES = ("documents", "embeddings", "lineitem")


def test_fixture_regeneration_releases_every_entry(spark, tmp_path):
    for t in _TABLES:
        shutil.copyfile(f"{_SF0001_DIR}/{t}.parquet", tmp_path / f"{t}.parquet")
    sf_dir = str(tmp_path)

    def run():
        return {
            name: sorted(
                (tuple(r) for r in REGISTRY[name].fn(spark, sf_dir).collect()),
                key=repr,
            )
            for name in _CONSUMERS
        }

    def report():
        rep = session_cache_report(spark)
        entries = {e["family"]: e for e in rep["entries"] if e["dir"] == sf_dir}
        return entries, rep["families"]

    before = run()
    old, stats = report()
    assert set(_CONSUMERS.values()) <= set(old), sorted(old)
    for family in _CONSUMERS.values():
        assert old[family]["rdd_ids"], (family, old[family])
    evictions = {f: stats[f]["evictions"] for f in old}

    # a regeneration: every input file gets a new mtime
    for t in _TABLES:
        st = os.stat(tmp_path / f"{t}.parquet")
        os.utime(tmp_path / f"{t}.parquet", (st.st_atime, st.st_mtime + 10))
    after = run()

    pinned = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    leaked = {
        f: sorted(set(e["rdd_ids"]) & pinned) for f, e in old.items()
    }
    assert not any(leaked.values()), leaked
    new, stats = report()
    for family in _CONSUMERS.values():
        assert stats[family]["evictions"] > evictions[family], family
        assert not set(new[family]["rdd_ids"]) & set(old[family]["rdd_ids"])
    assert after == before
