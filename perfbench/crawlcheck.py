"""Round-by-round comparison of a crawl against ``refsim.simulate``.

Every round's fetch order, shipped rows (with byte-identical text) and
lineage counts are compared, and the final seen-set. A checked operation
is one of these four outputs over the whole crawl; it fails when any
round differs, and the failure lists each differing round with how many
rows differ. A defect that permutes the order inside some rounds thus
fails the order operation and, because shipped rows carry their
``fetch_seq``, the shipped one, whether it hits three rounds or four and
moves ten rows or three hundred, which keeps ``failed_share`` steady.
"""

from __future__ import annotations

from dataclasses import dataclass, field

COUNT_KEYS = ("admitted", "fetched", "deduped", "robots_denied", "errors",
              "url_blocked")


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)

    def op(self, ok: bool, what: str, **detail) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(dict(op=what, **detail))

    @property
    def failed_share(self) -> float:
        return self.failed / max(self.attempted, 1)


def order_rows(rows) -> dict:
    """round → [(fetch_seq, url, host, depth)] in fetch order."""
    out: dict = {}
    for r in rows:
        out.setdefault(r["round"], []).append(
            (r["fetch_seq"], r["url"], r["host"], r["depth"]))
    return {k: sorted(v) for k, v in out.items()}


def shipped_rows(rows) -> dict:
    """round → sorted shipped tuples (text compared byte for byte)."""
    out: dict = {}
    for r in rows:
        out.setdefault(r["round"], []).append(
            (r["fetch_seq"], r["url"], r["depth"], r["anchor_text"], r["meta"],
             r["status"], r["text"].encode("utf-8"), r["success"]))
    return {k: sorted(v) for k, v in out.items()}


def golden_shipped(golden) -> list:
    """refsim shipped rows with their fetch_seq attached from the order.

    A URL can be fetched twice in one round (a client push and a
    discovered link), so each shipped row takes the next unused fetch of
    its (url, round, depth); both lists are in fetch order."""
    seqs: dict = {}
    for o in golden.order:
        seqs.setdefault((o["url"], o["round"], o["depth"]), []).append(o["fetch_seq"])
    return [dict(s, fetch_seq=seqs[(s["url"], s["round"], s["depth"])].pop(0))
            for s in golden.shipped]


def counts(metrics) -> dict:
    return {m["round"]: tuple(int(m.get(k, 0) or 0) for k in COUNT_KEYS)
            for m in metrics if m.get("admitted", 0)}


def compare(golden, order, shipped, metrics, seen) -> Tally:
    """``order``/``shipped``: iterables of row dicts with a ``round`` key;
    ``metrics``: per-round lineage dicts; ``seen``: the final seen keys."""
    t = Tally()
    tables = (
        ("order", order_rows(order), order_rows(golden.order)),
        ("shipped", shipped_rows(shipped), shipped_rows(golden_shipped(golden))),
        ("counts", counts(metrics), counts(golden.metrics)),
    )
    for name, got, want in tables:
        bad = [dict(round=rnd, rows_differing=_diff(got.get(rnd), want.get(rnd)))
               for rnd in sorted(set(got) | set(want)) if got.get(rnd) != want.get(rnd)]
        t.op(not bad, name, rounds=bad)
    got_seen, want_seen = set(seen), set(golden.seen)
    t.op(got_seen == want_seen, "seen", missing=len(want_seen - got_seen),
         extra=len(got_seen - want_seen))
    return t


def _diff(a, b) -> int:
    """Rows in one round's output but not the other's (1 for counts)."""
    if isinstance(a, list) and isinstance(b, list):
        return len(set(a) ^ set(b))
    return 1
