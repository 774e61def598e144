"""``bench.py`` keeps one cached corpus in its base directory."""

from __future__ import annotations

import bench


def test_a_new_corpus_removes_the_stale_ones(tmp_path):
    for name in ("nerzo_corpus_400000_aaaa", "nerzo_corpus_400000_bbbb",
                 "nerzo_corpus_300_cccc", "nerzo_corpus_400000",
                 "nerzo_corpus_300_dddd.tmp", "nerzo-spark-local"):
        (tmp_path / name).mkdir()
        (tmp_path / name / "part-0.parquet").write_bytes(b"x")

    stale = bench._drop_stale_corpora(str(tmp_path / "nerzo_corpus_400000_bbbb"))

    assert sorted(p.name for p in tmp_path.iterdir()) == [
        "nerzo-spark-local", "nerzo_corpus_300_dddd.tmp", "nerzo_corpus_400000_bbbb",
    ]
    assert stale == [str(tmp_path / n) for n in (
        "nerzo_corpus_300_cccc", "nerzo_corpus_400000", "nerzo_corpus_400000_aaaa")]
