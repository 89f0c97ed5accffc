"""The committed reference-test inventory (tools/reference_tests.json)
stands in for the Kotlin checkout wherever the checkout is absent; these
tests keep the two in step and keep a missing inventory loud."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import parity_matrix
from tools.parity_matrix import (
    INVENTORY,
    REF_TESTS,
    format_inventory,
    load_inventory,
    parse_reference_sources,
)


@pytest.mark.skipif(
    not os.path.isdir(REF_TESTS), reason="reference Kotlin checkout not present"
)
def test_inventory_matches_checkout():
    assert load_inventory() == parse_reference_sources(), (
        "tools/reference_tests.json is stale — run: python tools/parity_matrix.py"
    )


def test_inventory_file_is_canonical():
    # the committed file is exactly what the generator would write for it,
    # with no duplicate (file, name) pairs
    pairs = load_inventory()
    assert len(set(pairs)) == len(pairs)
    with open(INVENTORY, encoding="utf-8") as fh:
        assert fh.read() == format_inventory(pairs)


def test_missing_inventory_raises(monkeypatch, tmp_path):
    absent_ref = str(tmp_path / "no-checkout")
    absent_inv = str(tmp_path / "no-inventory.json")
    monkeypatch.setattr(parity_matrix, "REF_TESTS", absent_ref)
    monkeypatch.setattr(parity_matrix, "INVENTORY", absent_inv)
    with pytest.raises(FileNotFoundError) as exc:
        parity_matrix.extract_reference_tests()
    assert absent_ref in str(exc.value) and absent_inv in str(exc.value)


def test_empty_checkout_raises(monkeypatch, tmp_path):
    # a checkout with no @Test must not read as an empty suite
    monkeypatch.setattr(parity_matrix, "REF_TESTS", str(tmp_path))
    with pytest.raises(RuntimeError):
        parity_matrix.extract_reference_tests()


def test_checkout_is_preferred_over_inventory(monkeypatch, tmp_path):
    (tmp_path / "person").mkdir()
    (tmp_path / "person" / "FooTests.kt").write_text(
        "class FooTests {\n"
        "    @Test\n    fun `select one `() {}\n"
        "    @Test\n    @Ignore\n    fun plainName() {}\n"
        "}\n",
        encoding="utf-8",
    )
    monkeypatch.setattr(parity_matrix, "REF_TESTS", str(tmp_path))
    assert parity_matrix.extract_reference_tests() == [
        ("person/FooTests.kt", "select one "),
        ("person/FooTests.kt", "plainName"),
    ]
