"""Driver-side model of what the store must hold, and the count of
operations that failed."""

from __future__ import annotations

import hashlib
import sys
import traceback

import numpy as np


def fingerprint(tokens, source: str) -> bytes:
    """Per-document fingerprint over the int32 tokens and the source."""
    h = hashlib.blake2b(digest_size=8)
    h.update(np.ascontiguousarray(tokens, dtype=np.int32).tobytes())
    h.update(b"\0")
    h.update(source.encode())
    return h.digest()


class StoreModel:
    """The live version of every document: doc_id -> (fingerprint,
    n_tok).  A deleted document is simply absent."""

    def __init__(self, rows=()):
        self.live: dict[str, tuple[bytes, int]] = {}
        self.put(rows)

    def put(self, rows) -> None:
        """Upsert ``(doc_id, tokens, n_tok, source)`` rows."""
        for doc_id, toks, n_tok, source in rows:
            self.live[doc_id] = (fingerprint(toks, source), int(n_tok))

    def remove(self, ids) -> None:
        for i in ids:
            self.live.pop(i, None)

    @property
    def docs(self) -> int:
        return len(self.live)

    @property
    def tokens(self) -> int:
        return sum(n for _, n in self.live.values())

    def mismatches(self, ids, rows) -> list[str]:
        """What is wrong with ``rows`` as the answer to fetching ``ids``:
        every live id must come back once with its current version, and
        no other id may come back."""
        want = {i: self.live[i] for i in set(ids) if i in self.live}
        got: dict[str, tuple[bytes, int]] = {}
        bad = []
        for doc_id, toks, n_tok, source in rows:
            if doc_id in got:
                bad.append(f"{doc_id}: returned twice")
            if len(toks) != n_tok:
                bad.append(f"{doc_id}: n_tok {n_tok} but {len(toks)} tokens")
            got[doc_id] = (fingerprint(toks, source), int(n_tok))
        for i in sorted(want.keys() | got.keys()):
            if i not in got:
                bad.append(f"{i}: missing")
            elif i not in want:
                bad.append(f"{i}: returned but deleted or never written")
            elif got[i] != want[i]:
                bad.append(f"{i}: wrong version")
        return bad


class Ledger:
    """Counts operations attempted and failed.  An operation fails when
    it raises or when its check lists a problem."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, name: str, op, check=None):
        """Run ``op()``, then ``check(result)`` (a list of problems).
        Returns ``(ok, result)``; ``result`` is None when ``op`` raised."""
        self.attempted += 1
        result = None
        try:
            result = op()
            problems = check(result) if check is not None else []
        except Exception as e:  # a raising op is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            problems = [f"raised {type(e).__name__}: {e}"]
        if problems:
            self.failed += 1
            self.errors.append(f"{name}: " + "; ".join(problems[:3]))
        return not problems, result

    @property
    def failed_share(self) -> float:
        return self.failed / max(self.attempted, 1)
