"""The generator is deterministic: the same seed gives byte-identical
files, another seed different ones, and the manifest matches the disk."""

from __future__ import annotations

import hashlib
import os

from perfbench import gen


def _digests(d: str) -> dict[str, str]:
    return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d))}


def _all(root: str, seed: int) -> dict:
    return {
        "star": gen.star_tables(os.path.join(root, "star"), seed),
        "batch": gen.npmrds_batch(os.path.join(root, "batch"), seed,
                                  n_tmc=8, rows_per_year=300, dbt_rows=200),
        "days": gen.npmrds_days(os.path.join(root, "days"), seed, 2, n_tmc=5,
                                rows_per_day=100),
    }


def test_same_seed_gives_identical_bytes(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    ma, mb = _all(a, 7), _all(b, 7)
    assert ma == mb
    for part in ("star", "batch", "days"):
        da, db = _digests(os.path.join(a, part)), _digests(os.path.join(b, part))
        assert da and da == db


def test_other_seed_gives_other_bytes(tmp_path):
    _all(str(tmp_path / "a"), 7)
    _all(str(tmp_path / "b"), 8)
    for part in ("star", "batch", "days"):
        da = _digests(str(tmp_path / "a" / part))
        db = _digests(str(tmp_path / "b" / part))
        assert set(da) == set(db)
        assert da != db


def test_manifest_records_rows_and_bytes(tmp_path):
    m = _all(str(tmp_path), 3)
    for part, man in m.items():
        d = tmp_path / part
        assert man["bytes"] == sum(os.path.getsize(d / f) for f in man["files"])
        assert man["rows"] > 0
    assert m["batch"]["travel_rows"] == len(gen.YEARS) * 300
    assert m["days"]["rows"] == 2 * 100
    assert m["star"]["rows"] == sum(m["star"]["tables"].values())
