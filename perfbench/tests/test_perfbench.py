"""The benchmark's own checks fail on perturbed outputs, and its inputs
are byte-identical for a seed. Pure Python: no Spark, no database.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import dumpgen  # noqa: E402
import refs  # noqa: E402
import tablegen  # noqa: E402

SPEC = dumpgen.DumpSpec(seed=5, entities=300)


@pytest.fixture(scope="module")
def lines():
    return dumpgen.generate_lines(SPEC)


@pytest.fixture(scope="module")
def walk(lines):
    return dumpgen.walk(lines)


def _loaded(walk):
    return {t: Counter(c) for t, c in walk.rows.items()}


def test_dump_is_byte_identical_for_a_seed():
    for codec in ("gz", "json"):
        spec = dumpgen.DumpSpec(seed=5, entities=300, codec=codec)
        assert dumpgen.dump_bytes(spec) == dumpgen.dump_bytes(spec)
    other = dumpgen.DumpSpec(seed=6, entities=300)
    assert dumpgen.dump_bytes(other) != dumpgen.dump_bytes(SPEC)


def test_dump_has_every_hazard(lines, walk):
    assert walk.entities == SPEC.entities
    assert walk.stale_lines == SPEC.stale_ids + SPEC.duplicate_ids
    assert walk.corrupt_lines == SPEC.corrupt_lines
    assert len(lines) == SPEC.entities + walk.stale_lines + walk.corrupt_lines
    assert all(sum(walk.rows[t].values()) > 0 for t in dumpgen.TABLES)


def test_dump_compresses_like_text_not_like_a_clone():
    spec = dumpgen.DumpSpec(seed=5, entities=1000)
    plain = len(dumpgen.dump_bytes(dumpgen.DumpSpec(seed=5, entities=1000, codec="json")))
    ratio = plain / len(dumpgen.dump_bytes(spec))
    assert 3 < ratio < 15, ratio


def test_import_checks_pass_on_the_walk(walk):
    counts = {t: sum(c.values()) for t, c in walk.rows.items()}
    assert checks.loaded_rows(_loaded(walk), walk, "db") == []
    assert checks.pass_counts(counts, dict(counts), walk, "pass") == []
    layers = {"flatten.lines_in": walk.entity_lines + walk.corrupt_lines + 2,
              "flatten.corrupt_lines": walk.corrupt_lines,
              "flatten.stale_dropped": walk.stale_lines}
    assert checks.layer_counts(layers, walk, "traced") == []


def test_import_check_fails_on_a_dropped_row(walk):
    loaded = _loaded(walk)
    row = next(iter(loaded["wd_claims"]))
    loaded["wd_claims"][row] -= 1
    assert checks.loaded_rows(loaded, walk, "db")
    counts = {t: sum(c.values()) for t, c in loaded.items()}
    assert checks.pass_counts(counts, counts, walk, "pass")


def test_import_check_fails_on_a_changed_label(walk):
    loaded = _loaded(walk)
    eid, lang, label = next(iter(loaded["wd_labels"]))
    loaded["wd_labels"][(eid, lang, label)] -= 1
    loaded["wd_labels"][(eid, lang, label + "x")] += 1
    loaded["wd_labels"] += Counter()  # drop the zero count
    assert checks.loaded_rows(loaded, walk, "db")


def test_import_check_fails_when_a_stale_revision_is_kept(lines, walk):
    stale = next(ln for ln in lines
                 if ln.endswith("}") and json.loads(ln)["id"] in walk.latest
                 and ln != walk.latest[json.loads(ln)["id"]]
                 and json.loads(ln)["lastrevid"]
                 < json.loads(walk.latest[json.loads(ln)["id"]])["lastrevid"])
    eid = json.loads(stale)["id"]
    latest = dumpgen.table_rows(json.loads(walk.latest[eid]))
    kept = dumpgen.table_rows(json.loads(stale))
    loaded = _loaded(walk)
    for t in dumpgen.TABLES:
        loaded[t].subtract(latest[t])
        loaded[t].update(kept[t])
        loaded[t] += Counter()
    assert checks.loaded_rows(loaded, walk, "db")


def test_layer_check_fails_on_a_lost_corrupt_line(walk):
    layers = {"flatten.lines_in": walk.entity_lines + walk.corrupt_lines + 2,
              "flatten.corrupt_lines": walk.corrupt_lines - 1,
              "flatten.stale_dropped": walk.stale_lines}
    assert checks.layer_counts(layers, walk, "traced")


def test_query_comparator():
    want = [(1, "a", 10.25), (2, "b", 3.5), (3, None, None)]
    assert refs.compare(list(reversed(want)), want, {2: 2}) is None
    # one unit in the last place of a value rounded after a sum
    assert refs.compare([(1, "a", 10.26), (2, "b", 3.5), (3, None, None)], want, {2: 2}) is None
    # one changed value
    assert refs.compare([(1, "a", 10.27), (2, "b", 3.5), (3, None, None)], want, {2: 2})
    assert refs.compare([(1, "a", 10.25), (2, "c", 3.5), (3, None, None)], want, {2: 2})
    assert refs.compare([(1, "a", 10.25), (2, "b", 3.5), (3, None, 0.0)], want, {2: 2})
    assert refs.compare(want[:2], want, {2: 2})
    # a double that is not a rounded sum allows only a relative tolerance,
    # whether or not it was rounded
    assert refs.compare([(1, "a", 10.25 + 1e-12)], [(1, "a", 10.25)], {}) is None
    assert refs.compare([(1, "a", 10.26)], [(1, "a", 10.25)], {})


def test_only_rounded_sums_get_the_last_place_tolerance():
    for key, (_, sums) in refs.REFERENCES.items():
        assert all(d > 0 for d in sums.values()), key
    # q_topk_per_group rounds one stored value; q1_pricing's avg_qty is a
    # mean of whole numbers: neither depends on summation order
    assert refs.REFERENCES["q_topk_per_group"][1] == {}
    assert 5 not in refs.REFERENCES["q1_pricing"][1]
    want = [(7, 11, 1234.56)]
    assert refs.compare([(7, 11, 1234.57)], want, refs.REFERENCES["q_topk_per_group"][1])
    assert refs.compare([(7, 11, 1234.57)], want, {2: 2}) is None


def test_tables_are_byte_identical_for_a_seed(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    tablegen.generate(str(a), 3, 1)
    tablegen.generate(str(b), 3, 1)
    for name in sorted(os.listdir(a)):
        assert (a / name).read_bytes() == (b / name).read_bytes(), name
    assert refs.input_digest(str(a)) == refs.input_digest(str(b))
