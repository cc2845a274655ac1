"""Build-cost budget of the timed board queries: the Py4J commands the driver
sends while each ``perfbench/board.py`` ``TIMED`` query builds its DataFrame
stay within a committed budget.

Under PySpark's call-site capture (on by default) every ``F.col`` and every
``Column`` method costs about 13 Py4J commands, so a query written back as a
chain of Column calls lands far over its budget; the build rule is stated in
``b_pdf_parser_spark/operators/__init__.py``. Each query is built once
untimed first, so the once-per-process work (a table's schema inference, the
BPE merge table, shipping the package) stays out of the count. Memory-release
commands (``m``) are not counted: they free Java objects whenever Python's
garbage collector runs, not when a query builds.
"""

import gc
import importlib.util
from pathlib import Path

import pytest
from py4j.clientserver import ClientServerConnection

import __spark_entry__ as entry

_BOARD = Path(__file__).resolve().parent.parent / "perfbench" / "board.py"
_spec = importlib.util.spec_from_file_location("perfbench_board", _BOARD)
board = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(board)

# Py4J commands per build, about 20% above the count measured when the
# budgets were set (29, 62, 128, 67, 74, 44, 46 and 51 in this order; the
# Column-call forms they replaced sent 2,358 in all). A change that lowers a
# count lowers its budget; one that raises it says why.
BUDGET = {
    "canonical_urls": 35,
    "exact_dedup": 75,
    "near_dup_pairs": 150,
    "langid": 80,
    "bpe_tokens": 90,
    "host_cap_threshold": 55,
    "pricing_summary": 55,
    "sessionize_events": 60,
}


@pytest.fixture(scope="module")
def build_commands(spark):
    reg = entry.queries()
    sf = str(board.SF_DIR)
    sent: list = []
    send = ClientServerConnection.send_command

    def counting(self, command):
        sent.append(command[:1])
        return send(self, command)

    counts = {}
    for name in board.TIMED:
        reg[name](spark, sf)
        gc.collect()
        sent.clear()
        ClientServerConnection.send_command = counting
        try:
            reg[name](spark, sf)
        finally:
            ClientServerConnection.send_command = send
        counts[name] = sum(kind != "m" for kind in sent)
    return counts


def test_budget_covers_the_timed_set():
    assert set(BUDGET) == set(board.TIMED)
    assert sum(BUDGET.values()) <= 1000


@pytest.mark.parametrize("name", board.TIMED)
def test_build_stays_within_budget(build_commands, name):
    got = build_commands[name]
    assert got <= BUDGET[name], (
        f"{name}: {got} Py4J commands to build, budget {BUDGET[name]}"
    )
