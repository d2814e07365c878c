import numpy as np

from perfbench.model import Ledger, StoreModel


def row(doc_id, toks, source="s"):
    toks = np.asarray(toks, np.int32)
    return (doc_id, toks, len(toks), source)


def model():
    return StoreModel([row("a", [1, 2]), row("b", [3]), row("c", [4, 5, 6])])


def test_model_tracks_upserts_and_deletes():
    m = model()
    m.put([row("b", [7, 8]), row("d", [9])])
    m.remove(["a", "zz"])
    assert (m.docs, m.tokens) == (3, 6)


def test_fetch_that_matches_the_model_has_no_mismatch():
    m = model()
    m.remove(["c"])
    rows = [("a", [1, 2], 2, "s"), ("b", [3], 1, "s")]
    assert m.mismatches(["a", "b", "c", "never"], rows) == []


def test_fetch_mismatches_are_named():
    m = model()
    m.remove(["c"])
    rows = [("a", [1, 9], 2, "s"),        # wrong version
            ("c", [4, 5, 6], 3, "s"),     # deleted
            ("c", [4, 5, 6], 3, "s"),     # twice
            ("x", [1], 2, "s")]           # n_tok disagrees, never written
    bad = m.mismatches(["a", "b", "c", "x"], rows)
    assert "a: wrong version" in bad
    assert "b: missing" in bad
    assert "c: returned twice" in bad
    assert "c: returned but deleted or never written" in bad
    assert "x: n_tok 2 but 1 tokens" in bad


def test_ledger_counts_raised_and_wrong_results():
    led = Ledger()
    assert led.run("ok", lambda: 1, lambda r: []) == (True, 1)

    def boom():
        raise RuntimeError("disk gone")

    ok, result = led.run("raises", boom)
    assert (ok, result) == (False, None)
    ok, _ = led.run("wrong row", lambda: [("a", [0], 1, "s")],
                    lambda rows: model().mismatches(["a"], rows))
    assert not ok
    assert (led.attempted, led.failed) == (3, 2)
    assert led.failed_share == 2 / 3
    assert led.errors[0].startswith("raises: raised RuntimeError")
    assert led.errors[1].startswith("wrong row: a: ")


def test_ledger_counts_a_raising_check():
    led = Ledger()
    ok, _ = led.run("check raises", lambda: 1, lambda r: 1 / 0)
    assert not ok and led.failed == 1
