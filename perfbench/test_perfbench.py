"""The benchmark's own tests: input generators, count arithmetic,
metric names and one tiny run of each workload.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import re
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import gen_release  # noqa: E402
import gen_star  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def _tree_digest(d: Path) -> dict[str, str]:
    return {
        str(p.relative_to(d)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(d.rglob("*")) if p.is_file()
    }


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for run in ("a", "b"):
        gen_release.make_release(tmp_path / run / "raw", 11, 3_000, 40)
        gen_star.star_tables(tmp_path / run / "star", 11, 0.001)
        base = gen_star.base_corpus(11, 120, 80)
        gen_star.corpus_variant(base, 11, 3).write(tmp_path / run / "corpus")
    assert _tree_digest(tmp_path / "a") == _tree_digest(tmp_path / "b")
    other = tmp_path / "c"
    gen_release.make_release(other / "raw", 12, 3_000, 40)
    assert _tree_digest(other / "raw") != _tree_digest(tmp_path / "a" / "raw")


def test_new_pass_gives_different_content_of_same_size():
    base = gen_star.base_corpus(5, 300, 200)
    v1, v2 = (gen_star.corpus_variant(base, 5, p) for p in (1, 2))
    assert v1.tokens != v2.tokens and v1.tokens != base.tokens
    for v in (v1, v2):
        assert len(v.tokens) == len(base.tokens)
        assert sum(map(len, v.tokens)) == sum(map(len, base.tokens))
        assert set(t for d in v.tokens for t in d) <= set(gen_star.VOCAB) | {gen_star.DUP_TOKEN}
        # near-duplicates keep their source's text plus the marker
        dups = [i for i, s in enumerate(v.dup_of) if s >= 0]
        assert len(dups) == sum(1 for s in base.dup_of if s >= 0)
        assert all(v.tokens[i] == v.tokens[v.dup_of[i]] + [gen_star.DUP_TOKEN] for i in dups)
        # the rotation keeps every pairwise cosine
        np.testing.assert_allclose(v.vectors @ v.vectors.T, base.vectors @ base.vectors.T, atol=1e-9)
    assert not np.allclose(v1.vectors, v2.vectors)


def _field_counts(path: Path, ncols: int) -> tuple[int, int]:
    """(good, quarantined) by the cleaning rule, computed independently
    of the generator: lines split on LF (a CRLF ending is one
    terminator), BOM dropped, header skipped, then the tab-field count
    compared with the schema width."""
    text = path.read_bytes().decode("utf-8")
    lines = text.split("\n")[:-1]
    good = bad = 0
    for line in lines[1:]:
        line = line.removesuffix("\r").replace("\ufeff", "")
        if line.count("\t") + 1 == ncols:
            good += 1
        else:
            bad += 1
    return good, bad


def test_expected_count_arithmetic(tmp_path):
    from calaspark.ingest.schemas import SCHEMAS

    exp = gen_release.expected_counts(1_000)
    assert exp["quarantined"] == 8 and exp["good"] == 992
    assert gen_release.expected_counts(100)["quarantined"] == 0
    tables = ["RCPT_CD", "FILERS_CD", "SMRY_CD", "ACRONYMS_CD"]
    expect = gen_release.make_release(tmp_path, 3, 20_000, 400, tables)
    for name, e in expect.items():
        good, bad = _field_counts(tmp_path / f"{name}.TSV", len(SCHEMAS[name]))
        assert (good, bad) == (e["good"], e["quarantined"]), name
        assert e["good"] + e["quarantined"] == e["rows"]
    rows = sum(e["rows"] for e in expect.values())
    share = sum(e["quarantined"] for e in expect.values()) / rows
    assert abs(share - gen_release.QUARANTINE_RATE) < 0.001


def test_metric_names_are_well_formed():
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME_RE.fullmatch(n) and len(n) <= 64, n


@pytest.mark.parametrize("workload,trace", [
    ("ingest_release", 1), ("analyst_queries", 0), ("dedup_corpus", 1),
])
def test_smoke_run(workload, trace):
    """A tiny run prints one result line naming exactly the declared
    metrics, with every output check passing."""
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
