"""The README's environment-variable table is the one list of the
engine's settable knobs: every SPARK_GRAFT_* name read by the package or
bench.py appears in it exactly once, and it lists no name nothing reads."""

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
NAME = re.compile(r"SPARK_GRAFT_[A-Z]+(?:_[A-Z]+)*")


def _names_read() -> set[str]:
    files = [ROOT / "bench.py",
             *sorted((ROOT / "json_to_parquet_spark").rglob("*.py"))]
    return {n for f in files for n in NAME.findall(f.read_text())}


def _names_in_table() -> list[str]:
    readme = (ROOT / "README.md").read_text()
    section = readme.split("\n## Environment variables\n", 1)[1]
    section = section.split("\n## ", 1)[0]
    return [NAME.search(line).group() for line in section.splitlines()
            if line.startswith("| `SPARK_GRAFT_")]


def test_readme_knob_table_matches_code():
    table = _names_in_table()
    assert len(table) == len(set(table)), table
    assert set(table) == _names_read()
