"""bench.py's compact report: every query keeps its time, in lines that
fit a 1900-character output window, the headline last."""

import importlib.util
import json
import os


def _bench_module():
    # by path: the ``bench/`` directory shadows ``import bench``
    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py")
    spec = importlib.util.spec_from_file_location("_bench", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


HEAD = {"metric": "total_query_sec", "value": 41.5, "unit": "sec", "sf": 0.1}


def _lines(timings_of):
    import __spark_entry__

    names = list(__spark_entry__.queries())
    timings = {n: timings_of(i) for i, n in enumerate(names)}
    return names, timings, _bench_module()._compact_lines(HEAD, timings)


def test_compact_lines_keep_every_query_time():
    names, timings, lines = _lines(lambda i: round(0.004 + 1.7 * i, 3))

    assert all(len(line) <= 1900 for line in lines)
    records = [json.loads(line) for line in lines]
    assert {k: v for k, v in records[-1].items() if k != "queries"} == HEAD
    assert all(list(r) == ["queries"] for r in records[:-1])
    got = {k: v for r in records for k, v in r["queries"].items()}
    assert got == timings  # same keys, same order, full 3-decimal times
    assert list(got) == names


def test_output_tail_parses_as_the_headline():
    """The BENCH_r*.json recorder keeps the last 2000 characters of the
    output and parses its last line: that is the headline, and it holds
    most queries at their measured (positive) times."""
    _names, timings, lines = _lines(lambda i: round(0.19 + 0.037 * i, 3))

    tail = ("\n".join(lines) + "\n")[-2000:]
    parsed = json.loads(tail.splitlines()[-1])
    assert parsed == {**HEAD, "queries": parsed["queries"]}
    assert len(parsed["queries"]) >= 70
    assert all(timings[k] == v > 0 for k, v in parsed["queries"].items())
