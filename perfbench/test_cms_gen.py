"""Tests of the seeded CMS drop generator. Run with
``python3 -m pytest perfbench/test_cms_gen.py``."""

from __future__ import annotations

import csv
import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import cms_gen  # noqa: E402


def _files(root: str) -> dict[str, tuple[str, int]]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = (hashlib.sha256(f.read()).hexdigest(),
                                                 os.stat(p).st_mtime_ns)
    return out


def _ccns(path: str) -> list[str]:
    with open(path, newline="") as f:
        return [row[0].strip() for row in list(csv.reader(f))[1:]]


def test_same_seed_gives_identical_files_and_facts(tmp_path):
    a = cms_gen.generate(str(tmp_path / "a"), 11, 200)
    b = cms_gen.generate(str(tmp_path / "b"), 11, 200)
    assert a == b
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    c = cms_gen.generate(str(tmp_path / "c"), 12, 200)
    assert _files(str(tmp_path / "a")) != _files(str(tmp_path / "c"))
    assert a != c


def test_drop_shapes_and_facts(tmp_path):
    root = str(tmp_path)
    facts = cms_gen.generate(root, 5, 300)
    d1 = _ccns(f"{root}/drop1/NH_ProviderInfo_Jun2025.csv")
    d2 = _ccns(f"{root}/drop2/NH_ProviderInfo_Jul2025.csv")
    assert len(d1) == len(set(d1)) == 300
    assert len(d2) == len(set(d2)) == 300
    overlap = set(d1) & set(d2)
    assert len(overlap) == 270  # 90% of drop 1 comes back ...
    assert len(set(d2) - set(d1)) == 30  # ... plus 10% new facilities
    assert facts["winner"] == {"drop2": 300, "drop1": 30, "overlap": 270}

    first, merged = facts["drops"]
    assert first["facilities"] == 300 and merged["facilities"] == 330
    assert merged["facility_measures"] == 330 * len(cms_gen.MEASURES)
    quality = _ccns(f"{root}/drop1/NH_QualityMsr_MDS_Jun2025.csv")
    assert len(quality) == 300 * len(cms_gen.MEASURES)
    # one survey row per facility; penalty groups of 1-3 rows
    assert len(_ccns(f"{root}/drop1/NH_SurveySummary_Jun2025.csv")) == 300
    sizes = first["penalty_group_sizes"]
    assert set(sizes) <= {"1", "2", "3"} and sum(sizes.values()) == 300
    with_penalty = len(set(_ccns(f"{root}/drop1/NH_Penalties_Jun2025.csv")))
    assert 0.3 < with_penalty / 300 < 0.5
    assert first["penalty_rows"] == sum(int(k) * v for k, v in sizes.items())

    # drop 2 is strictly newer, so the recency stamp makes it win
    t1 = os.stat(f"{root}/drop1/NH_ProviderInfo_Jun2025.csv").st_mtime
    t2 = os.stat(f"{root}/drop2/NH_ProviderInfo_Jul2025.csv").st_mtime
    assert t2 > t1
    assert facts["landing_bytes"][0] == sum(
        os.path.getsize(os.path.join(f"{root}/drop1", n)) for n in os.listdir(f"{root}/drop1"))
