import ast
import csv
import os

from perfbench.cdcgen import CdcCorpus, file_name


def _files(d):
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


def test_same_seed_same_bytes_and_truth(tmp_path):
    a, b = CdcCorpus(5, 40, 2), CdcCorpus(5, 40, 2)
    ta = [a.next_cycle(str(tmp_path / "a")) for _ in range(3)]
    tb = [b.next_cycle(str(tmp_path / "b")) for _ in range(3)]
    assert ta == tb
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert a.state == b.state


def test_other_seed_other_bytes(tmp_path):
    CdcCorpus(5, 40, 2).next_cycle(str(tmp_path / "a"))
    CdcCorpus(6, 40, 2).next_cycle(str(tmp_path / "b"))
    assert _files(tmp_path / "a") != _files(tmp_path / "b")


def test_names_sort_chronologically_past_90_files(tmp_path):
    names = [file_name(i) for i in range(250)]
    assert names == sorted(names)
    assert len(set(names)) == len(names)
    c = CdcCorpus(1, 3, 10)
    written = [n for _ in range(12) for n in c.next_cycle(str(tmp_path)).files]
    assert len(written) == 120
    assert sorted(os.listdir(tmp_path)) == written


def test_shape_matches_the_reference(tmp_path):
    c = CdcCorpus(2, 400, 5)
    c.next_cycle(str(tmp_path))
    rows = []
    for name in sorted(os.listdir(tmp_path)):
        with open(tmp_path / name, newline="", encoding="utf-8") as fh:
            rows += list(csv.DictReader(fh))
    n_events = [len(ast.literal_eval(r["array_trackingEvents"])) for r in rows]
    assert 8 <= sum(n_events) / len(n_events) <= 12
    assert min(n_events) == 0 and max(n_events) == 88
    redelivered = len(rows) - len({r["oid__id"] for r in rows})
    assert 0.08 <= redelivered / len(rows) <= 0.16
    assert 0.97 <= sum(r["Op"] == "U" for r in rows) / len(rows) < 1.0
    text = "".join(r["array_trackingEvents"] for r in rows)
    assert "ao\\tdestinat" in text  # repr writes the tab as \t
    assert '"suspensão"' in text
    assert "d'entrega" in text


def test_cycle_truth_is_keep_last_per_cycle(tmp_path):
    c = CdcCorpus(3, 50, 2)
    t = c.next_cycle(str(tmp_path))
    keys = []
    for name in t.files:
        with open(tmp_path / name, newline="", encoding="utf-8") as fh:
            keys += [r["oid__id"] for r in csv.DictReader(fh)]
    assert t.tracking_rows == len(set(keys))
    assert t.event_rows == sum(max(1, len(d.events)) for k, d in c.state.items()
                               if k in set(keys))
