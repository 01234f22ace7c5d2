"""The driver-facing query registry: every registered query has
exactly one oracle, and no module's name shadows another's."""

from __future__ import annotations

from neuroimaging_data_pipeline_spark import queries as Q


def test_registry_has_244_unique_names_each_with_one_oracle():
    names = list(Q.all_queries())
    assert len(names) == len(set(names)) == 244
    assert sum(len(m.QUERIES) for m in Q._MODULES) == 244
    assert sum(len(m.ORACLE) for m in Q._MODULES) == 244
    assert set(Q.all_oracles()) == set(names)


def test_registry_keeps_registration_order():
    want = [n for m in Q._MODULES for n in m.QUERIES]
    assert list(Q.all_queries()) == want
