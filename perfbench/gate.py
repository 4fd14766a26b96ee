"""Correctness gate applied to every timed operation.

Each check returns a list of mismatch messages; an empty list means the
operation's output is correct. ``offset`` is added to every expected
number: the self-test sets it to 1 and re-checks a real operation's output,
which must then fail — proof that a wrong expected count trips the gate.
"""

from __future__ import annotations


class Gate:
    def __init__(self) -> None:
        self.offset = 0

    def _expected(self, value):
        if isinstance(value, dict):
            return {k: self._expected(v) for k, v in value.items()}
        if isinstance(value, int):
            return value + self.offset
        return value

    def equal(self, what: str, got, expected) -> list[str]:
        expected = self._expected(expected)
        if got == expected:
            return []
        return [f"{what}: got {got!r}, expected {expected!r}"]

    def dense_turns(self, what: str, turns: list[int], n: int) -> list[str]:
        """A conversation read must return turns 0..n-1, in order, once
        each, with n the conversation's size in the input."""
        n = self._expected(n)
        if turns == list(range(n)):
            return []
        return [
            f"{what}: got {len(turns)} turns (first {turns[:5]}), "
            f"expected dense 0..{n - 1}"
        ]
