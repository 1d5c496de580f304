"""The slow-tier classifier in conftest.py keys on the module file and the
test name, whatever the parametrization ids contain."""

from types import SimpleNamespace

from conftest import _in_slow_tier


def _item(nodeid):
    return SimpleNamespace(nodeid=nodeid)


def test_param_with_slash_keeps_listed_test_slow():
    assert _in_slow_tier(_item("tests/test_range_join.py::test_matches_naive_reference"))
    assert _in_slow_tier(_item("tests/test_range_join.py::test_matches_naive_reference[/tmp/x]"))
    assert _in_slow_tier(_item("test_range_join.py::test_matches_naive_reference[a/b-c]"))


def test_whole_module_entry_and_unlisted_tests():
    assert _in_slow_tier(_item("tests/test_pipeline_soak.py::test_any[/tmp/x]"))
    assert not _in_slow_tier(_item("tests/test_range_join.py::test_plan_equi_join_no_nested_loop"))
    assert not _in_slow_tier(_item("tests/test_storage.py::test_x[tests/test_pipeline_soak.py]"))
