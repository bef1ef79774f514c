"""Pure-Python port of the node-semver range semantics the reference uses.

The reference resolves dependency ranges with ``semver.validRange`` /
``semver.maxSatisfying`` (/root/reference/lib/npm/NpmModule.js:73,
/root/reference/lib/npm/NpmBundle.js:49,
/root/reference/lib/npm/NodeEngineBundle.js:39). This module implements
the public node-semver (v5.x) grammar: comparator sets, ``||`` unions,
hyphen ranges, x-ranges, tilde, caret, prerelease exclusion rule.

Pure functions only — the Spark layer wraps them in vectorized pandas
UDFs; the per-version resolution join (SURVEY.md J1) calls
``satisfies``/``max_satisfying`` per Arrow batch.
"""

from __future__ import annotations

import re
from functools import total_ordering

_NUMERIC = re.compile(r"^\d+$")
_VERSION = re.compile(
    r"^[v=\s]*(\d+)\.(\d+)\.(\d+)"
    r"(?:-((?:[0-9A-Za-z-]+)(?:\.[0-9A-Za-z-]+)*))?"
    r"(?:\+([0-9A-Za-z-]+(?:\.[0-9A-Za-z-]+)*))?$"
)


@total_ordering
class Version:
    __slots__ = ("major", "minor", "patch", "prerelease", "build", "raw")

    def __init__(self, major, minor, patch, prerelease=(), build=(), raw=""):
        self.major, self.minor, self.patch = major, minor, patch
        self.prerelease = tuple(prerelease)
        self.build = tuple(build)
        self.raw = raw

    @property
    def tuple3(self):
        return (self.major, self.minor, self.patch)

    def _pre_key(self):
        # no prerelease sorts AFTER any prerelease
        if not self.prerelease:
            return (1,)
        parts = []
        for ident in self.prerelease:
            if _NUMERIC.match(ident):
                parts.append((0, int(ident), ""))
            else:
                parts.append((1, 0, ident))
        return (0, tuple(parts))

    def _key(self):
        return (self.major, self.minor, self.patch, self._pre_key())

    def __eq__(self, other):
        return self._key() == other._key()

    def __lt__(self, other):
        a, b = self._key(), other._key()
        if a[:3] != b[:3]:
            return a[:3] < b[:3]
        ka, kb = a[3], b[3]
        if ka[0] != kb[0]:
            return ka[0] < kb[0]
        if ka[0] == 1:  # both no-prerelease
            return False
        pa, pb = ka[1], kb[1]
        for ia, ib in zip(pa, pb):
            if ia != ib:
                return ia < ib
        return len(pa) < len(pb)

    def __hash__(self):
        return hash(self._key())

    def __repr__(self):
        s = f"{self.major}.{self.minor}.{self.patch}"
        if self.prerelease:
            s += "-" + ".".join(self.prerelease)
        return s


def parse(v) -> Version | None:
    if isinstance(v, Version):
        return v
    if not isinstance(v, str):
        return None
    m = _VERSION.match(v.strip())
    if not m:
        return None
    pre = tuple(m.group(4).split(".")) if m.group(4) else ()
    build = tuple(m.group(5).split(".")) if m.group(5) else ()
    return Version(int(m.group(1)), int(m.group(2)), int(m.group(3)), pre, build, v)


class Comparator:
    """op in {'<','<=','>','>=','='}; ANY matches everything."""

    __slots__ = ("op", "version")
    ANY = None  # sentinel set below

    def __init__(self, op: str, version: Version | None):
        self.op = op
        self.version = version

    def test(self, v: Version) -> bool:
        if self.version is None:
            return True
        c = (v > self.version) - (v < self.version)
        return {
            "=": c == 0,
            ">": c > 0,
            ">=": c >= 0,
            "<": c < 0,
            "<=": c <= 0,
        }[self.op]

    def __repr__(self):
        return f"{self.op}{self.version}" if self.version else "*"


Comparator.ANY = Comparator("=", None)

_XCHARS = ("x", "X", "*")
# strict-mode XRANGEPLAIN (node-semver 5 re[XRANGEPLAIN]): the literal
# '-' before prerelease identifiers is REQUIRED (loose mode's '-?' would
# accept '~1.2.3alpha', which strict validRange rejects), and
# prerelease/build attach only after a full M.m.p (nested optionals).
_PARTIAL = re.compile(
    r"^([vV=]*)(\d+|x|X|\*)"
    r"(?:\.(\d+|x|X|\*)"
    r"(?:\.(\d+|x|X|\*)"
    r"(?:-((?:[0-9A-Za-z-]+)(?:\.[0-9A-Za-z-]+)*))?"
    r"(?:\+([0-9A-Za-z-]+(?:\.[0-9A-Za-z-]+)*))?"
    r")?)?$"
)
_OP_SPLIT = re.compile(r"^(<=|>=|<|>|=|~>?|\^)?\s*(.*)$")
_HYPHEN = re.compile(r"^\s*(\S+)\s+-\s+(\S+)\s*$")
_WS_AFTER_OP = re.compile(r"(<=|>=|<|>|=|~>?|\^)\s+")


class _Partial:
    __slots__ = ("major", "minor", "patch", "pre")

    def __init__(self, major, minor, patch, pre):
        self.major, self.minor, self.patch, self.pre = major, minor, patch, pre


def _parse_partial(s: str) -> _Partial | None:
    m = _PARTIAL.match(s)
    if not m:
        return None

    def num(g):
        if g is None or g in _XCHARS:
            return None
        return int(g)

    pre = tuple(m.group(5).split(".")) if m.group(5) else ()
    return _Partial(num(m.group(2)), num(m.group(3)), num(m.group(4)), pre)


def _ver(major, minor, patch, pre=()) -> Version:
    return Version(major, minor, patch, pre)


def _expand_token(tok: str) -> list[Comparator] | None:
    """One comparator token -> list of primitive comparators, or None if
    invalid. Implements x-range / tilde / caret desugaring (node-semver 5)."""
    if tok in ("", "*", "x", "X"):
        return [Comparator.ANY]
    m = _OP_SPLIT.match(tok)
    op, rest = m.group(1) or "", m.group(2)
    p = _parse_partial(rest)
    if p is None:
        return None

    M, mnr, pat, pre = p.major, p.minor, p.patch, p.pre

    if op in ("~", "~>"):
        if M is None:
            return [Comparator.ANY]
        if mnr is None:
            return [Comparator(">=", _ver(M, 0, 0)), Comparator("<", _ver(M + 1, 0, 0))]
        if pat is None:
            return [Comparator(">=", _ver(M, mnr, 0)), Comparator("<", _ver(M, mnr + 1, 0))]
        return [
            Comparator(">=", _ver(M, mnr, pat, pre)),
            Comparator("<", _ver(M, mnr + 1, 0)),
        ]

    if op == "^":
        if M is None:
            return [Comparator.ANY]
        if mnr is None:
            return [Comparator(">=", _ver(M, 0, 0)), Comparator("<", _ver(M + 1, 0, 0))]
        if pat is None:
            if M == 0:
                return [Comparator(">=", _ver(0, mnr, 0)), Comparator("<", _ver(0, mnr + 1, 0))]
            return [Comparator(">=", _ver(M, mnr, 0)), Comparator("<", _ver(M + 1, 0, 0))]
        lo = Comparator(">=", _ver(M, mnr, pat, pre))
        if M > 0:
            return [lo, Comparator("<", _ver(M + 1, 0, 0))]
        if mnr > 0:
            return [lo, Comparator("<", _ver(0, mnr + 1, 0))]
        return [lo, Comparator("<", _ver(0, 0, pat + 1))]

    # x-range / plain / primitive operators
    if M is None:
        # node-semver 5 replaceXRange: '>*'/'>x' AND '<*'/'<x' both
        # desugar to '<0.0.0' (nothing can be greater/less than every
        # version); only '='/bare x-majors mean match-all
        if op in ("<", ">"):
            return [Comparator("<", _ver(0, 0, 0))]
        return [Comparator.ANY]

    if mnr is None or pat is None:
        # partial with x: desugar per node-semver Range.toComparators
        if mnr is None:
            lo, hi = _ver(M, 0, 0), _ver(M + 1, 0, 0)
        else:
            lo, hi = _ver(M, mnr, 0), _ver(M, mnr + 1, 0)
        if op in ("", "="):
            return [Comparator(">=", lo), Comparator("<", hi)]
        if op == ">":
            return [Comparator(">=", hi)]
        if op == ">=":
            return [Comparator(">=", lo)]
        if op == "<":
            return [Comparator("<", lo)]
        if op == "<=":
            return [Comparator("<", hi)]
        return None

    v = _ver(M, mnr, pat, pre)
    return [Comparator(op or "=", v)]


def _expand_set(set_str: str) -> list[Comparator] | None:
    s = set_str.strip()
    hm = _HYPHEN.match(s)
    if hm:
        lo, hi = _parse_partial(hm.group(1)), _parse_partial(hm.group(2))
        if lo is None or hi is None:
            return None
        comps = []
        if lo.major is None:
            pass
        elif lo.minor is None:
            comps.append(Comparator(">=", _ver(lo.major, 0, 0)))
        elif lo.patch is None:
            comps.append(Comparator(">=", _ver(lo.major, lo.minor, 0)))
        else:
            comps.append(Comparator(">=", _ver(lo.major, lo.minor, lo.patch, lo.pre)))
        if hi.major is None:
            pass
        elif hi.minor is None:
            comps.append(Comparator("<", _ver(hi.major + 1, 0, 0)))
        elif hi.patch is None:
            comps.append(Comparator("<", _ver(hi.major, hi.minor + 1, 0)))
        else:
            comps.append(Comparator("<=", _ver(hi.major, hi.minor, hi.patch, hi.pre)))
        return comps or [Comparator.ANY]

    s = _WS_AFTER_OP.sub(r"\1", s)
    if s.strip() == "":
        return [Comparator.ANY]
    comps = []
    for tok in s.split():
        expanded = _expand_token(tok)
        if expanded is None:
            return None
        comps.extend(expanded)
    return comps


def parse_range(range_str) -> list[list[Comparator]] | None:
    """Parse into a union (list) of comparator sets; None if invalid."""
    if not isinstance(range_str, str):
        return None
    sets = []
    for set_str in range_str.split("||"):
        comps = _expand_set(set_str)
        if comps is None:
            return None
        sets.append(comps)
    return sets or None


def valid_range(range_str) -> bool:
    """node-semver ``validRange(r) !== null`` (NpmModule.js:73)."""
    return parse_range(range_str) is not None


def _set_matches(comps: list[Comparator], v: Version) -> bool:
    for c in comps:
        if not c.test(v):
            return False
    if v.prerelease:
        # prerelease exclusion: some comparator must pin the same
        # (major,minor,patch) tuple with a prerelease
        for c in comps:
            if c.version is not None and c.version.prerelease and c.version.tuple3 == v.tuple3:
                return True
        return False
    return True


def satisfies(version, range_str) -> bool:
    v = parse(version)
    if v is None:
        return False
    sets = parse_range(range_str)
    if sets is None:
        return False
    return any(_set_matches(s, v) for s in sets)


def max_satisfying(versions, range_str) -> str | None:
    """node-semver ``maxSatisfying`` (NpmBundle.js:49): the highest
    version string in ``versions`` satisfying the range, else None."""
    sets = parse_range(range_str)
    if sets is None:
        return None
    best = None
    best_raw = None
    for raw in versions:
        v = parse(raw)
        if v is None:
            continue
        if not any(_set_matches(s, v) for s in sets):
            continue
        if best is None or v > best:
            best, best_raw = v, raw
    return best_raw
