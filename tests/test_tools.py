"""Tests of the command-line tools under tools/."""

from __future__ import annotations

import sys


def test_check_oracle_rejects_unknown_query_names(monkeypatch, capsys):
    """A query name the registry does not know (a typo, or a deleted query)
    fails the run before any session starts instead of checking nothing."""
    from tools import check_oracle

    def no_session(*args, **kwargs):
        raise AssertionError("session started before the names were checked")

    monkeypatch.setattr(check_oracle, "get_session", no_session)
    monkeypatch.setattr(
        sys, "argv", ["check_oracle.py", "/nonexistent", "similarity_topk", "no_such_query"]
    )
    assert check_oracle.main() == 1
    out = capsys.readouterr().out
    assert "no_such_query" in out and "similarity_topk" not in out
