"""Count-min sketch heavy hitters (queries/sketches.py)."""

from tests.conftest import SF_DIR

from gpu_mapreduce_spark.queries.sketches import _TOPK, cms_heavy_hitters


def test_cms_one_sided_error_and_collisions(spark):
    """CMS invariants on the fixture: the estimate NEVER undercounts
    (est >= cnt for every heavy hitter — the structural guarantee), and
    with w below the vocabulary size both behaviors are visible:
    at least one token collides (overcount > 0) and at least one token's
    min-row bucket is clean (overcount == 0). Deterministic hashes make
    both assertions stable."""
    rows = cms_heavy_hitters(spark, SF_DIR).collect()
    assert len(rows) == _TOPK
    assert all(r.est >= r.cnt for r in rows), rows
    assert all(r.overcount == r.est - r.cnt for r in rows)
    assert any(r.overcount > 0 for r in rows)
    assert any(r.overcount == 0 for r in rows)
    # ranked by exact count desc, token asc
    keys = [(-r.cnt, r.tok) for r in rows]
    assert keys == sorted(keys)


def test_sketch_layouts_are_written_only_in_functions():
    """Each mergeable-state layout has one definition: the HLL register
    derivation (bin() of the hash tail) lives in functions/hllest.py, the
    count-min bucket hash (the 'cms{j}|' prefix) in functions/cms.py, and
    QSketch objects are built only by functions/qsketch.py (bulk_build,
    merge, decode)."""
    import re
    from pathlib import Path

    import gpu_mapreduce_spark

    root = Path(gpu_mapreduce_spark.__file__).parent

    def writers(pattern: str) -> list[str]:
        return sorted(
            p.relative_to(root).as_posix()
            for p in root.rglob("*.py")
            if re.search(pattern, p.read_text())
        )

    assert writers(r"\bbin\(") == ["functions/hllest.py"]
    assert writers(r"cms\{j\}\|") == ["functions/cms.py"]
    assert writers(r"QSketch\(") == ["functions/qsketch.py"]
