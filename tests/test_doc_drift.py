"""The working docs name only commands and counts that exist: every
``python``/``python3 <path>.py`` command in README.md, CLAUDE.md and the
verify skill names a file in the repository, and the README's query and
oracle counts are those of the driver contract."""

import os
import re

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = ["README.md", "CLAUDE.md", os.path.join(".claude", "skills", "verify",
                                                "SKILL.md")]


def _read(doc):
    with open(os.path.join(ROOT, doc), encoding="utf-8") as f:
        return f.read()


@pytest.mark.parametrize("doc", DOCS)
def test_python_commands_name_existing_files(doc):
    scripts = re.findall(r"\bpython3? +([\w./-]+\.py)\b", _read(doc))
    missing = [s for s in scripts if not os.path.isfile(os.path.join(ROOT, s))]
    assert not missing, f"{doc} runs scripts that do not exist: {missing}"


def test_readme_query_counts_match_driver_contract():
    import __spark_entry__ as entrymod

    m = re.search(r"(\d+) queries \((\d+) DuckDB-oracle-checked\)",
                  _read("README.md"))
    assert m, "README no longer states the driver query and oracle counts"
    assert (int(m.group(1)), int(m.group(2))) == (
        len(entrymod.queries()), len(entrymod.oracle_sql()))
