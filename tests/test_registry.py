"""Registry shape behind __spark_entry__: queries() is every
oracle-checked SQL entry plus the rows-only pipeline entries, and the
per-module registries merge without silently overriding each other."""

from __future__ import annotations

import pytest

ROWS_ONLY = {"extract_report", "extracted_texts", "extract_spans", "doc_scores"}


def test_entry_keys_are_registry_plus_pipeline():
    import __spark_entry__ as entry_mod
    from text_extraction_evaluation_spark.plans.queries import SQL_CHECKED

    assert set(entry_mod.queries()) == set(SQL_CHECKED) | ROWS_ONLY
    assert set(entry_mod.oracle_sql()) == set(SQL_CHECKED)
    assert not ROWS_ONLY & set(SQL_CHECKED)


def test_merge_rejects_a_name_registered_twice():
    from text_extraction_evaluation_spark.plans.queries import merge_registries

    a = {"q_a": ("fa", "SELECT 1"), "q_shared": ("fa2", "SELECT 2")}
    b = {"q_b": ("fb", "SELECT 3"), "q_shared": ("fb2", "SELECT 4")}
    with pytest.raises(ValueError, match="q_shared"):
        merge_registries(a, b)
    assert list(merge_registries(a, {"q_b": b["q_b"]})) == ["q_a", "q_shared", "q_b"]
