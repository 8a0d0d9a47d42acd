"""The two-tier suite's id matching (tests/conftest.py)."""

from conftest import _slow_tier_regexes, _tier_id


def test_parametrized_id_with_slash_matches_its_pattern():
    (rx,) = _slow_tier_regexes(["test_f.py::t[a/b]"])
    assert _tier_id("tests/test_f.py::t[a/b]") == "test_f.py::t[a/b]"
    assert rx.match(_tier_id("tests/test_f.py::t[a/b]"))
    assert rx.match(_tier_id("test_f.py::t[a/b]"))
    assert not rx.match(_tier_id("tests/test_f.py::t[a/c]"))
