"""The synthetic corpus is a function of its arguments, not of the host:
the us_constitution demo file changes nothing unless it is asked for,
and asking for it without the file raises."""

import pytest

from pawpaw_spark import corpus

DEMO = "We the People of the United States. " * 200


def _rows(**kw):
    return list(corpus.generate_rows(60, 5, **kw))


def test_default_rows_ignore_the_demo_file(tmp_path, monkeypatch):
    demo = tmp_path / "us_constitution.txt"
    demo.write_text(DEMO)
    monkeypatch.setattr(corpus, "_CONSTITUTION_PATH", str(demo))
    present = _rows()
    assert any("We the People" in r["content"]
               for r in _rows(include_demo_corpora=True))
    monkeypatch.setattr(corpus, "_CONSTITUTION_PATH", str(tmp_path / "absent"))
    assert _rows() == present


def test_missing_demo_file_raises_when_requested(tmp_path, monkeypatch):
    monkeypatch.setattr(corpus, "_CONSTITUTION_PATH", str(tmp_path / "absent.txt"))
    with pytest.raises(FileNotFoundError, match="absent.txt"):
        _rows(include_demo_corpora=True)
