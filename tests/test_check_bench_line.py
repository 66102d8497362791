"""The bench contract line keeps its warm section inside the evidence tail:
`tools/check_bench_line.py` passes the worst-case synthetic line and fails a
line whose warm ``queries`` map sits outside the last ``TAIL_CHARS``."""

import importlib.util
import json
from pathlib import Path

import pytest


@pytest.fixture(scope="module")
def cbl():
    tool = Path(__file__).resolve().parent.parent / "tools" / "check_bench_line.py"
    spec = importlib.util.spec_from_file_location("check_bench_line", tool)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_synthetic_line_survives_the_tail(cbl):
    line = cbl.synthetic_line()
    assert cbl.check(line) == 0
    # the parse does not depend on json.dumps' default separators
    compact = json.dumps(json.loads(line), separators=(",", ":"))
    assert cbl.check(compact) == 0


def test_warm_section_pushed_out_of_the_tail_fails(cbl):
    doc = json.loads(cbl.synthetic_line())
    # the pre-reorder layout: warm section first, auxiliary sections after
    line = json.dumps(
        {
            "queries": doc["queries"],
            "value": doc["value"],
            "sf": doc["sf"],
            "pass_totals": doc["pass_totals"],
            "queries_cold": doc["queries_cold"],
            "pad": "x" * cbl.TAIL_CHARS,
        }
    )
    assert cbl.check(line) == 1
