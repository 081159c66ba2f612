"""Output checks that cannot pass on nothing.

Pure Python: the Spark side (see ``worker.py``) reduces committed tables
to small tuples and these functions judge them, so the judging logic is
unit-tested without a session.  Every share is computed over a non-empty
eligible set; an empty set yields ``None``, which fails the check
instead of reading as 1.0.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass, field
from itertools import combinations
from typing import Iterable, Optional


def norm_surface(surface: str) -> str:
    """The linking layer's surface normalisation: lower case, every run
    of non-alphanumerics folded to one space, trimmed."""
    return " ".join("".join(c if c.isalnum() else " " for c in surface.lower()).split())


# RDF (RSS 1.0) items keep <description> as the description: the parser
# passes no description text to content for them, so the generator's text
# oracle, which assumes content, does not apply to that feed type.
PARITY_EXEMPT = ("rdf",)


def parity_share(by_type: dict[str, list[int]]) -> Optional[float]:
    """Share of oracle pages, over all feed types, that kept their text."""
    hits = sum(h for h, _ in by_type.values())
    eligible = sum(e for _, e in by_type.values())
    return hits / eligible if eligible > 0 else None


def parity_ok(by_type: dict[str, list[int]]) -> bool:
    """Text parity holds when some oracle page was checked and every
    oracle page of a non-exempt feed type kept its text exactly."""
    return parity_share(by_type) is not None and all(
        h == e for t, (h, e) in by_type.items() if t not in PARITY_EXEMPT
    )


def pairwise_f1(predicted: dict[str, str], gold: dict[str, str]) -> Optional[float]:
    """Pairwise F1 of a clustering over the items both maps cover.

    A pair is two items in one cluster.  ``None`` when fewer than two
    items are shared or the gold clustering has no pair, because the
    score would then be vacuous."""
    items = sorted(set(predicted) & set(gold))
    if len(items) < 2:
        return None
    pred_pairs, gold_pairs = set(), set()
    for a, b in combinations(items, 2):
        if predicted[a] == predicted[b]:
            pred_pairs.add((a, b))
        if gold[a] == gold[b]:
            gold_pairs.add((a, b))
    if not gold_pairs:
        return None
    hit = len(pred_pairs & gold_pairs)
    if hit == 0:
        return 0.0
    precision, recall = hit / len(pred_pairs), hit / len(gold_pairs)
    return 2 * precision * recall / (precision + recall)


def author_f1(
    surface_to_canonical: Iterable[tuple[str, str]], oracle: dict[str, str]
) -> Optional[float]:
    """Pairwise F1 of committed author canonicalisation against the
    generator's cluster oracle, over the oracle's linkable variants.

    ``surface_to_canonical`` holds the committed (author surface,
    canonical author node) pairs; a surface committed under two
    canonical nodes is itself an error and scores as a singleton."""
    gold = {norm_surface(s): cluster for s, cluster in oracle.items()}
    seen: dict[str, set[str]] = defaultdict(set)
    for surface, canonical in surface_to_canonical:
        seen[norm_surface(surface)].add(canonical)
    predicted = {
        s: next(iter(c)) if len(c) == 1 else f"!split:{s}" for s, c in seen.items()
    }
    return pairwise_f1(predicted, gold)


@dataclass
class Ledger:
    """Operations attempted and failed in one run.

    An operation fails when it raises, runs past ``limit_s``, or its
    output fingerprint differs from the one recorded for the seed (or,
    for a seed with no record, from the run's first operation)."""

    expected: Optional[dict] = None
    limit_s: float = float("inf")
    attempted: int = 0
    failed: int = 0
    reasons: list[str] = field(default_factory=list)
    _first: Optional[dict] = None

    def record(self, wall_s: float, fingerprint: Optional[dict], error: str = "") -> bool:
        self.attempted += 1
        reason = error
        if not reason and wall_s > self.limit_s:
            reason = f"timed out: {wall_s:.1f}s > {self.limit_s:.0f}s"
        if not reason:
            want = self.expected if self.expected is not None else self._first
            if fingerprint is None:
                reason = "no output fingerprint"
            elif want is not None and fingerprint != want:
                reason = f"fingerprint {fingerprint} != {want}"
            elif self._first is None:
                self._first = fingerprint
        if reason:
            self.failed += 1
            self.reasons.append(reason)
        return not reason

    @property
    def ok_frac(self) -> float:
        return (self.attempted - self.failed) / self.attempted if self.attempted else 0.0
