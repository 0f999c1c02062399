"""``scale_check.py --only``: section names resolve in run order, and
every rehearsal section in the module runs by default."""

from __future__ import annotations

import inspect

import pytest

import scale_check


def test_only_picks_named_sections_in_run_order():
    chosen = scale_check._chosen_sections(["--only", "round11d,routing"])
    assert [name for name, _, _ in chosen] == ["routing", "round11d"]
    assert scale_check._chosen_sections([]) == scale_check.SECTIONS


def test_only_rejects_an_unknown_section():
    with pytest.raises(SystemExit):
        scale_check._chosen_sections(["--only", "routing,nope"])


def test_every_section_runs_by_default():
    names = [name for name, _, _ in scale_check.SECTIONS]
    assert len(names) == len(set(names))
    listed = {section.__name__ for _, section, _ in scale_check.SECTIONS}
    defined = {
        name
        for name in dir(scale_check)
        if name.endswith("_check") and callable(getattr(scale_check, name))
    }
    assert listed == defined
    for name, section, takes_docs in scale_check.SECTIONS:
        arity = len(inspect.signature(section).parameters)
        assert arity == (2 if takes_docs else 1), name
