"""Substring / infix search over the indexed token stream.

The reference's defining query answers ANY byte substring (and a regex
superset) directly from the index — backward search at
`/root/reference/src/main/server.c:713`, NFA-over-FM-index at
`src/main/nfa.c:418` — without scanning the corpus. The posting-list
engine indexes the tokenized stream, so the equivalent contract here is:

    match `pattern` against the SPACE-JOINED TOKEN STREAM of each doc
    (exactly the sequence the index stores), touching only the vocab,
    the gram table, and the matched terms' postings — never the corpus.

Supported pattern subset: literal [a-z0-9] chars, literal spaces, '.'
(any single character — including the inter-token space, as in POSIX),
character classes `[abc]`/`[a-f0-3]` (in-token), quantifiers
`+ * ? {m,n}` applied to literals/classes/groups (in-token; quantified
'.' is rejected — it could span arbitrarily many token boundaries),
top-level alternation `A|B`, and groups `(A|B)`:

  * an IN-TOKEN group (no space or '.' in its body, e.g. `(cd|ef)`)
    stays a single opaque regex unit inside its fragment — quantified
    groups like the reference's `ab(cd|ef)+cd` template
    (`/root/reference/src/main/nfa.c:418`, test.pl:343-364) evaluate as
    one vocab rlike, no expansion blow-up;
  * a group whose body crosses token boundaries (contains ' ' or '.')
    is expanded branch-wise into separate patterns union'd together;
    a BOUNDED repetition `(X){m,n}` expands to textual repeats (regex
    concatenation semantics); an UNBOUNDED repetition (`*`, `+`,
    `{m,}`) at a pattern EDGE rewrites away (_fix_edge_groups — both
    planes report doc ids, so unanchored search keeps only the
    edge-side repetition: `(X)+R` ≡ `(X)R`, `(X)*R` ≡ `R`); an
    INTERIOR unbounded repetition `A(X)+B` finite-izes through a DATA
    probe (_Evaluator.rep_kmax): index-answered emptiness of X^k is
    monotone in k (a stream containing X^{k+1} contains X^k), so the
    corpus itself bounds the repeat count and the quantifier expands
    to the exact branch set `(X){lo}…(X){kmax}` — > _REP_CAP corpus
    repeats or branch blow-up past _MAX_EXPANSIONS → scan fallback;
  * NESTED groups are supported: an in-token nested group stays inside
    its opaque regex unit (rlike evaluates it natively); a cross-token
    one branch-expands recursively, innermost groups resolving on the
    re-entry into expand().

Unbounded dot gaps (`.*`/`.+`) are index-answered too: EDGE gaps
rewrite away per branch (streamline(), the reference's
query_planning.c fix_initial/fix_final analogue; adjacent literal dot
runs fold into the gap) and INTERIOR gap chains `P0.*P1.*…Pk` up to
_MAX_GAPS gaps evaluate as token-merge masks decided by greedy
positional chains (detect_gaps / _Evaluator.gap_docs). Parts may span MULTIPLE
tokens — literal spaces split a part into consecutive-token slot
fragments and in-part dots enumerate space/char choices — so
phrase-gap-phrase shapes like `merge fast.*table scan` stay on the
index. Interior dot runs around a gap fold into it (`.*.`≡`..*`≡`.+`,
_fold_gap_runs), and the guard dot runs a `.+`/`.{m,}` edge leaves
behind thread through the chain as positional edge guards, exact for
runs ≤ _MAX_EDGE_GUARD (see detect_gaps). A literal space adjacent to
a `.*` gap (`a .*b` — the gap meets a token boundary exactly) is an
empty edge fragment: a required successor/predecessor-token constraint
with the merge mask forbidden on that gap (a DOUBLE-flush gap — spaces
on both sides, `a .* b` / `a .+ b` — additionally forces a full token
between the groups: the two consumed spaces are distinct chars).
SINGLE-flush `.+` gaps (`a .+b` / `a.+ b`) and interior MIN-m gaps up
to m ≤ _MAX_GAP_MIN (`.+.+` ≡ `.*..` ≡ `.{2,}`, user-written `.{m,}`)
resolve through MARGIN-LEVEL starts: an adjacent placement is valid
only when the boundary-token matches leave enough head/tail margin
chars for the gap, so the greedy chain carries one frontier per
needed tail-margin level (_gap_cells; a margin-k start is also a
margin-(k−1) start, which keeps the greedy propagation complete).
Where a cell depends on the length of the ONE token adjacent to a
group — flush min-m adjacency, edge guards up to _MAX_EDGE_GUARD
(including on boundary-exact edges) — the lg filter decides it from
the index: terms SHORTER than k are a tiny candidate set, and the
positions plane lists every slot, so "long token at a+δ" is an
anti-join against the short terms' positions (long_at, _guard_cells).
Remaining scan-fallback residue: gap minima above _MAX_GAP_MIN and
guard runs past _MAX_EDGE_GUARD (g = 4 on a flush edge) — their cells
would need TWO token lengths at once — and the data-dependent
interior-repetition caps above.

This covers the reference's headline use (arbitrary infix literals
crossing token boundaries, e.g. 'erge fas' matching "...merge fast...")
plus the full ERE subset its test templates exercise. Every fragment
must contain at least one REQUIRED unit (not ?- or *-quantified) so
token-boundary semantics stay exact.

One evaluator, two planes: _Evaluator holds all of the logic above —
variant-union slot anchoring, the gap chain with its guard/margin cells
and per-level frontiers, the positional DP and the interior-repetition
probe — written against a small plane object of position-set
primitives (listed in its docstring). SparkPlane implements them as
lazy DataFrame steps over SearchEngine (or infix_limit's doc-range-
capped view): a pattern compiles to ONE plan, no collected term
lists. serving._NumpyPlane implements them in numpy over LocalSearcher's
demand-paged vocab and one bucket-pruned positions read per candidate
term set. Plan shape:

  1. each branch is streamline()d and routed: gap chains to gap_docs,
     > _ENUM_DOTS wildcards to the positional DP, the rest to
     variants() — '.'-choices enumerated (space vs in-token char,
     ≤ 2^dots), each variant a tuple of per-token fragments
     [suffix, full*, prefix], i.e. one token-slot group.
  2. every slot regex prunes the vocabulary through the char-3-gram
     table (index/ngram.py) and a regex verify — a candidate TERM SET.
  3. a group's start positions are its slots' position sets shifted by
     slot offset (`a = pos − off`) and intersected on (doc, a) — the
     generalized phrase; an unguarded one-slot group needs only the
     docs plane. Chains, guards and the DP combine start sets with the
     remaining primitives (filters, anti-joins, per-doc frontiers).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..index.ngram import prune_terms_by_grams

_LITERALS = set("abcdefghijklmnopqrstuvwxyz0123456789")
# ≤ _ENUM_DOTS wildcards: 2^d variant enumeration (simplest plan, the
# common case). Above it: the O(d²) per-boundary positional DP
# (_Evaluator.dp_docs) — no wildcard-count limit. _MAX_DOTS only bounds
# variants() itself.
_ENUM_DOTS = 6
_MAX_DOTS = 10
_MAX_EXPANSIONS = 64  # cap on branch-expanded pattern count


def _split_alternation(body: str) -> list[str]:
    """Split on '|' at depth 0 — '|' inside a (group) or a [class]
    belongs to that construct, not the top level."""
    parts, cur, depth, in_class = [], [], 0, False
    for c in body:
        if c == "[":
            in_class = True
        elif c == "]":
            in_class = False
        elif c == "(" and not in_class:
            depth += 1
        elif c == ")" and not in_class:
            depth -= 1
        if c == "|" and depth == 0 and not in_class:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    parts.append("".join(cur))
    return parts


import re as _re

_DOT_QUANT = _re.compile(r"\.(\?|\{(\d+)(?:,(\d+))?\})")


def _match_paren(pattern: str, i: int) -> int:
    """Index of the ')' balancing the '(' at i (class-aware), or -1."""
    depth, in_class = 0, False
    for j in range(i, len(pattern)):
        c = pattern[j]
        if c == "[":
            in_class = True
        elif c == "]":
            in_class = False
        elif c == "(" and not in_class:
            depth += 1
        elif c == ")" and not in_class:
            depth -= 1
            if depth == 0:
                return j
    return -1


def _rewrite_dot_quants(pattern: str) -> str:
    """BOUNDED dot quantifiers are finite and expand to dot-run
    alternation before group expansion: `.{m,n}` → `(.|..|…)` (a
    cross-token group — the existing branch machinery evaluates it) and
    `.?` → `(.)?`. Only the genuinely token-unbounded forms (`.*`, `.+`,
    `.{m,}`) are left for _units() to reject — a `.{0,12}` could span at
    most 12 characters of the stream, which the variant/DP planes handle
    like any other dots."""

    def _sub(m):
        q = m.group(1)
        if q == "?":
            lo, hi = 0, 1
        elif m.group(3) is not None:
            lo, hi = int(m.group(2)), int(m.group(3))
        else:
            # `.{m,}` never reaches here: _DOT_QUANT's `{m(,n)?}` arm has
            # no open-ended form, so a match without group(3) is `.{m}`
            lo = hi = int(m.group(2))
        if hi == 0:
            return ""  # `.{0}` / `.{0,0}` matches only the empty string
        if hi < lo or hi > 12:
            return m.group(0)  # malformed / too wide — rejected downstream
        branches = "|".join("." * k for k in range(max(lo, 1), hi + 1))
        return f"({branches})" + ("?" if lo == 0 else "")

    return _DOT_QUANT.sub(_sub, pattern)


def _rmatch_paren(pattern: str, j: int) -> int:
    """Index of the '(' balancing the ')' at j (scanning left), or -1."""
    depth = 0
    for i in range(j, -1, -1):
        c = pattern[i]
        if c == ")":
            depth += 1
        elif c == "(":
            depth -= 1
            if depth == 0:
                return i
    return -1


_HEAD_GRP_QUANT = _re.compile(r"([*+])|\{(\d+),\}")
_TAIL_GRP_QUANT = _re.compile(r"\)\{(\d+),\}$")


def _fix_edge_groups(pattern: str, head: bool, tail: bool) -> str:
    """streamline_query applied to GROUP repetition — the reference's
    fix_initial/fix_final (`query_planning.c:24-218`) analogue for an
    unbounded cross-token group at an UNANCHORED pattern edge. Both
    infix planes report doc ids only, and a search match with k repeats
    always contains a match keeping only the edge-side repetition(s):

      head: `(X)*R` ≡ `R`    `(X)+R` ≡ `(X)R`    `(X){m,}R` ≡ `(X){m}R`
      tail: `R(X)*` ≡ `R`    `R(X)+` ≡ `(X)` kept once, symmetric

    so the rewrite turns "unbounded cross-token repetition unsupported"
    into the already-index-answered unquantified/bounded forms. Only
    cross-token bodies rewrite (in-token quantified groups are native
    opaque units); interior unbounded repetition has no finite form and
    still raises. `head`/`tail` track whether this subpattern retains
    the full pattern's unanchored edge through expand()'s recursion."""
    while head and pattern.startswith("("):
        j = _match_paren(pattern, 0)
        if j < 0 or j + 1 >= len(pattern):
            break
        body = pattern[1 : j]
        if " " not in body and "." not in body:
            break
        m = _HEAD_GRP_QUANT.match(pattern, j + 1)
        if m is None:
            break
        if m.group(1) == "*":
            pattern = pattern[m.end() :]
            continue  # the new head may be another edge group
        if m.group(1) == "+":
            pattern = pattern[: j + 1] + pattern[m.end() :]
        else:  # {m,}
            pattern = (
                pattern[: j + 1]
                + "{%d}" % int(m.group(2))
                + pattern[m.end() :]
            )
        break  # group survives unquantified/bounded: head is settled
    while tail:
        if pattern.endswith(")*") or pattern.endswith(")+"):
            i0, q = _rmatch_paren(pattern, len(pattern) - 2), pattern[-1]
            cut = len(pattern) - 2
        else:
            mt = _TAIL_GRP_QUANT.search(pattern)
            if mt is None:
                break
            i0, q = _rmatch_paren(pattern, mt.start()), "{"
            cut = mt.start()
        if i0 < 0:
            break
        body = pattern[i0 + 1 : cut]
        if " " not in body and "." not in body:
            break
        if q == "*":
            pattern = pattern[:i0]
            continue
        if q == "+":
            pattern = pattern[:-1]
        else:  # {m,}
            pattern = pattern[: cut + 1] + "{%d}" % int(mt.group(1))
        break
    return pattern


def expand(
    pattern: str,
    *,
    head: bool = True,
    tail: bool = True,
    rep_kmax=None,
) -> list[str]:
    """Expand top-level alternation and CROSS-TOKEN groups (body contains
    ' ' or '.') into a list of patterns whose only remaining groups are
    in-token — those stay opaque regex units for _units(). Unquantified
    cross-token groups ('?' adds the empty branch) and bounded
    repetitions expand; EDGE-unbounded repetitions rewrite away
    (_fix_edge_groups); bounded dot quantifiers are rewritten to dot-run
    alternation first (_rewrite_dot_quants).

    INTERIOR unbounded cross-token repetition (`A(X)+B` / `(X)*` /
    `(X){m,}` away from every unanchored edge) is finite-ized through
    `rep_kmax(body, lo) -> int`, a DATA probe: the largest k for which
    any document's stream still contains k consecutive textual repeats
    of `body` (monotone — a stream containing X^{k+1} contains X^k — so
    an emptiness probe per k terminates). With the probe the quantifier
    expands to the exact finite branch set `(X){lo} … (X){kmax}` for
    this corpus; without one (rep_kmax=None) it raises ValueError (scan
    fallback). The probe may itself raise (cap exceeded) → scan."""
    pattern = _rewrite_dot_quants(pattern)
    tops = _split_alternation(pattern)
    if len(tops) > 1:
        out: list[str] = []
        for t in tops:
            if not t:
                raise ValueError(f"empty alternation branch: {pattern!r}")
            out.extend(expand(t, head=head, tail=tail, rep_kmax=rep_kmax))
        if len(out) > _MAX_EXPANSIONS:
            raise ValueError(f"alternation expands too wide: {pattern!r}")
        return out
    if head or tail:
        pattern = _fix_edge_groups(pattern, head, tail)

    i = pattern.find("(")
    if i < 0:
        return [pattern]
    j = _match_paren(pattern, i)
    if j < 0:
        raise ValueError(f"unbalanced group in {pattern!r}")
    body = pattern[i + 1 : j]
    if not body:
        raise ValueError(f"empty group in {pattern!r}")
    if " " not in body and "." not in body:
        # in-token group (nested parens included — the whole body is
        # space/dot-free, so it stays ONE opaque regex unit for _units):
        # expand only the tail
        # the tail keeps the full pattern's TAIL edge but not its head
        return [
            pattern[: j + 1] + rest
            for rest in expand(
                pattern[j + 1 :], head=False, tail=tail, rep_kmax=rep_kmax
            )
        ] if j + 1 < len(pattern) else [pattern]
    # cross-token group: branch-expand ('?' = empty branch; a BOUNDED
    # repetition {m} / {m,n} expands to textual repeats — regex
    # semantics concatenate the body, so `(a b){2}` ≡ `a ba b` — and
    # each repeat re-enters expand() to resolve its own branches).
    # Nested groups inside a branch are handled by the recursion too.
    # Only genuinely UNBOUNDED cross-token repetition (*, +, {m,})
    # has no finite fragment form and stays on the scan path.
    quant = pattern[j + 1] if j + 1 < len(pattern) else ""
    branches = [b for b in _split_alternation(body)]
    if any(not b for b in branches):
        raise ValueError(f"empty branch in group: {pattern!r}")

    def _rep_expand(lo_r: int, hi_r: int, qend: int) -> list[str]:
        grp = pattern[i : j + 1]
        out: list[str] = []
        for reps in range(lo_r, hi_r + 1):
            out.extend(
                expand(
                    pattern[:i] + grp * reps + pattern[qend:],
                    head=head,
                    tail=tail,
                    rep_kmax=rep_kmax,
                )
            )
        if len(out) > _MAX_EXPANSIONS:
            raise ValueError(f"group expands too wide: {pattern!r}")
        return out

    if quant == "{":
        jq = pattern.find("}", j + 1)
        spec = pattern[j + 2 : jq] if jq > 0 else ""
        mu = _re.fullmatch(r"(\d+),", spec)
        if jq > 0 and mu:  # `(X){m,}` — interior unbounded, probe-bounded
            if rep_kmax is None:
                raise ValueError(
                    "interior unbounded cross-token repetition "
                    f"unsupported without a probe: {pattern!r}"
                )
            lo_r = int(mu.group(1))
            return _rep_expand(lo_r, rep_kmax(body, lo_r), jq + 1)
        mq = _re.fullmatch(r"(\d+)(?:,(\d+))?", spec)
        if jq < 0 or not mq:
            raise ValueError(f"unsupported quantifier: {pattern!r}")
        lo_r = int(mq.group(1))
        hi_r = int(mq.group(2)) if mq.group(2) else lo_r
        if hi_r < lo_r or hi_r > 4:
            raise ValueError(
                f"cross-token group repetition too wide: {pattern!r}"
            )
        return _rep_expand(lo_r, hi_r, jq + 1)
    if quant in ("+", "*"):
        # edge-positioned ones were rewritten by _fix_edge_groups; what
        # reaches here is genuinely INTERIOR unbounded repetition —
        # finite-ize it through the data probe (kmax < lo ⇒ the branch
        # cannot match this corpus and expands to nothing)
        if rep_kmax is None:
            raise ValueError(
                "interior unbounded cross-token repetition "
                f"unsupported without a probe: {pattern!r}"
            )
        lo_r = 1 if quant == "+" else 0
        return _rep_expand(lo_r, rep_kmax(body, lo_r), j + 2)
    k = j + 1
    if quant == "?":
        branches.append("")
        k = j + 2
    out = []
    for b in branches:
        out.extend(
            expand(
                pattern[:i] + b + pattern[k:],
                head=head,
                tail=tail,
                rep_kmax=rep_kmax,
            )
        )
    if len(out) > _MAX_EXPANSIONS:
        raise ValueError(f"group expands too wide: {pattern!r}")
    return out


def _units(pattern: str) -> list[tuple[str, str]]:
    """Lex the pattern into (kind, regex-text) units: 'lit' | 'dot' |
    'space' | 'class' | 'group' | 'quant'. Raises ValueError on anything
    outside the supported subset (see module docstring). Groups reaching
    here are in-token (expand() rewrote the rest): every branch must lex
    to a non-empty, space/dot-free, required unit sequence."""
    units: list[tuple[str, str]] = []
    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c in _LITERALS:
            units.append(("lit", c))
            i += 1
        elif c == " ":
            units.append(("space", " "))
            i += 1
        elif c == ".":
            units.append(("dot", "."))
            i += 1
        elif c == "(":
            j = _match_paren(pattern, i)
            body = pattern[i + 1 : j] if j >= 0 else ""
            if j < 0 or not body:
                raise ValueError(f"unsupported group in {pattern!r}")
            for b in _split_alternation(body):
                if not b:
                    raise ValueError(f"empty branch in {pattern!r}")
                sub = _units(b)  # recursive: nested in-token groups OK
                if any(k in ("space", "dot") for k, _ in sub):
                    raise ValueError(
                        f"cross-token group must be pre-expanded: {pattern!r}"
                    )
                if not _has_required(sub):
                    raise ValueError(
                        f"group branch {b!r} can match empty: {pattern!r}"
                    )
            units.append(("group", pattern[i : j + 1]))
            i = j + 1
        elif c == "[":
            j = pattern.find("]", i + 1)
            body = pattern[i : j + 1] if j >= 0 else ""
            inner = body[1:-1]
            if (
                j < 0
                or not inner
                or not set(inner) <= (_LITERALS | {"-"})
            ):
                raise ValueError(f"unsupported class in infix pattern: {pattern!r}")
            units.append(("class", body))
            i = j + 1
        elif c in "+*?" or c == "{":
            if c == "{":
                j = pattern.find("}", i + 1)
                body = pattern[i : j + 1] if j >= 0 else ""
                if j < 0 or not all(
                    ch.isdigit() or ch == "," for ch in body[1:-1]
                ) or not body[1:-1]:
                    raise ValueError(f"unsupported quantifier: {pattern!r}")
                quant = body
                i = j + 1
            else:
                quant = c
                i += 1
            if not units or units[-1][0] not in ("lit", "class", "group"):
                # quantified '.' could span token boundaries; leading
                # quantifiers are malformed
                raise ValueError(f"unsupported quantifier placement: {pattern!r}")
            units.append(("quant", quant))
        else:
            raise ValueError(f"unsupported infix pattern: {pattern!r}")
    return units


def _optional_quant(q: str) -> bool:
    """Does this quantifier allow ZERO occurrences of its unit?"""
    return q in ("*", "?") or (q.startswith("{0"))


def _has_required(funits: list[tuple[str, str]]) -> bool:
    """≥1 unit that every match must consume (not ?/*-quantified)."""
    for idx, (k, _) in enumerate(funits):
        if k in ("lit", "class", "dot", "group"):
            nxt = funits[idx + 1] if idx + 1 < len(funits) else None
            if not (nxt and nxt[0] == "quant" and _optional_quant(nxt[1])):
                return True
    return False


def required_run_from_units(funits: list[tuple[str, str]]) -> str:
    """Longest literal run every match of this fragment must contain —
    computed from unit structure, so group/class-bearing fragments still
    gram-prune on their required literal stretches (required_literal_run
    on the regex TEXT conservatively bails on any '('/'['). A lit whose
    quantifier is optional is dropped; a '+'/'{m,}' lit keeps its char
    but splits the run (contiguity beyond one occurrence isn't
    guaranteed); class/group/dot split the run."""
    best = cur = ""
    for idx, (k, t) in enumerate(funits):
        if k == "quant":
            continue
        nxt = funits[idx + 1] if idx + 1 < len(funits) else None
        quant = nxt[1] if nxt and nxt[0] == "quant" else None
        if k == "lit" and quant is None:
            cur += t
        elif k == "lit" and not _optional_quant(quant):
            cur += t  # one occurrence guaranteed, adjacent to cur
            if len(cur) > len(best):
                best = cur
            cur = ""
        else:  # optional lit, class, group, dot — breaks the run
            cur = ""
        if len(cur) > len(best):
            best = cur
    return best


def pattern_supported(pattern: str) -> bool:
    """True iff infix_docs will accept the pattern. Must mirror what
    infix_docs actually evaluates: branches are streamline()d (edge gaps
    rewritten away), gap chains up to _MAX_GAPS go to the positional
    chain evaluator, ≤ _ENUM_DOTS wildcards go through variants() (which
    applies the all-optional-fragment rejection), more through the
    positional DP (same rejection, checked per realizable segment by
    _dp_validate) — there is no wildcard-count rejection, only the
    structural subset. Interior unbounded group
    repetition is structurally accepted (a stub probe stands in for the
    data probe); at evaluation time the probe can still raise — corpus
    needs > _REP_CAP repeats, or the probed branch set exceeds
    _MAX_EXPANSIONS — and those data-dependent cases fall to scan."""
    if not pattern:
        return False
    try:
        for p in expand(pattern, rep_kmax=lambda body, lo: max(lo, 1)):
            p = streamline(p)
            if p == "" or detect_gaps(p) is not None:
                continue
            if p.count(".") > _ENUM_DOTS:
                _dp_validate(p)
            else:
                variants(p)
        return True
    except ValueError:
        return False


_GAP_RX = _re.compile(r"\.(?:([*+])|\{(\d+),\})")
# interior gaps with min-char count up to _MAX_GAP_MIN are exact on the
# positional plane (margin-level cells, _gap_cells); larger minima need
# intermediate-token lengths → scan
_MAX_GAP_MIN = 3


def _gap_min(m: "_re.Match") -> int:
    if m.group(1) is not None:
        return 0 if m.group(1) == "*" else 1
    return int(m.group(2))
_EDGE_HEAD = _re.compile(r"^(\.*)\.(?:(\*)|(\+)|\{(\d+),\})")
_EDGE_TAIL = _re.compile(r"\.(?:(\*)|(\+)|\{(\d+),\})(\.*)$")
_MAX_GAPS = 4  # gap chains: 2^k merge combos, capped tiny
# edge guard dots folded into a gap chain: guard-cell tables
# (_guard_cells) are exact while at most ONE adjacent token's length
# binds — g ≤ 4 on a plain edge, g ≤ 3 on a boundary-exact one; longer
# runs need a multi-token lookback and fall to the scan
_MAX_EDGE_GUARD = 4


def streamline(pattern: str) -> str:
    """The reference's streamline_query rewrite
    (`/root/reference/src/main/query_planning.c:24-218`,
    `fix_initial`/`fix_final`): for UNANCHORED stream search an
    edge-unbounded dot gap reduces to at most a fixed dot run —

      `.*B` ≡ `B`        `A.*` ≡ `A`        (zero-or-more: drop)
      `.+B` ≡ `.B`       `A.+` ≡ `A.`       (the one-position guard)
      `.{m,}B` ≡ `.{m}B` (≡ m dots)         and symmetrically at the tail

    because the surplus characters the gap would consume are exactly the
    characters unanchored matching already ignores. A literal dot run
    adjacent to an edge gap folds into it (`..*B` ≡ `.{1,}B` ≡ `.B`),
    so the rewrite loops until the edge is a plain dot run. Applied per
    expanded branch (an in-token group can't contain '.', so a textual
    edge match IS an edge gap). May return "" (`.*` alone) — the
    match-everything pattern, handled by the callers.

    The guard dots a `.+`/`.{m,}` edge leaves behind combine with every
    downstream plane; an interior gap chain carries them as positional
    edge guards (detect_gaps head/tail, exact for runs ≤
    _MAX_EDGE_GUARD — longer runs fall to the scan)."""
    while True:
        m = _EDGE_HEAD.match(pattern)
        if m is None:
            break
        guard = len(m.group(1)) + (1 if m.group(3) else int(m.group(4) or 0))
        pattern = "." * guard + pattern[m.end():]
    while True:
        m = _EDGE_TAIL.search(pattern)
        if m is None:
            break
        guard = len(m.group(4)) + (1 if m.group(2) else int(m.group(3) or 0))
        pattern = pattern[: m.start()] + "." * guard
    return pattern


_GAP_RUN_RX = _re.compile(r"(?:\.(?:[*+]|\{\d+,\})?)+")


def _fold_gap_runs(pattern: str) -> str:
    """A maximal interior run mixing `.*`/`.+`/`.{m,}` gaps and literal
    dots folds to one canonical gap: the run requires m = (#dots +
    Σ gap minima) chars with no upper bound, so `.*.` ≡ `..*` ≡ `.+`,
    `.*.*` ≡ `.*`, `.+.+` ≡ `.{2,}`. m == 0 → `.*`; m == 1 → `.+`;
    2 ≤ m ≤ _MAX_GAP_MIN → `.{m,}` (margin-level cells evaluate it —
    _gap_cells); larger minima would need intermediate-token lengths —
    the run is left in place and detect_gaps rejects the dot-edged part
    it creates (scan fallback). Pure-dot runs are literal wildcards,
    untouched; EDGE runs were already rewritten by streamline()."""
    out, last = [], 0
    for m in _GAP_RUN_RX.finditer(pattern):
        seg = m.group(0)
        if "*" not in seg and "+" not in seg and "{" not in seg:
            continue
        mins, j = 0, 0
        while j < len(seg):
            if j + 1 < len(seg) and seg[j + 1] in "*+":
                mins += seg[j + 1] == "+"
                j += 2
            elif j + 1 < len(seg) and seg[j + 1] == "{":
                k = seg.index("}", j)
                mins += int(seg[j + 2 : k - 1])
                j = k + 1
            else:
                mins += 1
                j += 1
        if mins > _MAX_GAP_MIN:
            continue
        out.append(pattern[last : m.start()])
        out.append(
            ".*" if mins == 0 else ".+" if mins == 1 else f".{{{mins},}}"
        )
        last = m.end()
    out.append(pattern[last:])
    return "".join(out)


_MAX_GAP_COMBOS = 16


def _gap_part_variants(parts: list[str]):
    """Per-part variant fragment-tuples (variants(): every in-part dot
    independently plays a space or an in-token char), validated for the
    positional chain. EDGE fragments may be EMPTY — a literal space at a
    part edge means the part consumes the inter-token space itself, so
    the part's match meets a token boundary exactly (`a .*b`: the 'a'
    token must have a successor and the gap starts at that successor's
    first char). Empty edges come only from literal spaces (edge dots
    were folded into the gap or stripped as guards), so the head/tail-
    empty flags are UNIFORM across a part's variants — enforced here.
    Returns None (→ scan fallback) on any unsupported part, a part with
    no required fragment, or when the variant-choice product exceeds
    _MAX_GAP_COMBOS."""
    out, combos = [], 1
    for part in parts:
        if not part:
            return None
        try:
            vs = variants(part)
        except ValueError:
            return None
        if not vs or any(not any(f != "" for f in frags) for frags in vs):
            return None
        flags = {(frags[0] == "", frags[-1] == "") for frags in vs}
        if len(flags) != 1:
            return None
        combos *= len(vs)
        if combos > _MAX_GAP_COMBOS:
            return None
        out.append(vs)
    return out


def detect_gaps(pattern: str):
    """An interior unbounded-gap CHAIN `P0 .* P1 .* … Pk` (any mix of
    `.*`/`.+`/`.{m,}` with m ≤ _MAX_GAP_MIN, 1 ≤ k ≤ _MAX_GAPS after
    _fold_gap_runs), optionally
    wrapped in EDGE GUARD dot runs (what streamline() leaves of a
    `.+`/`.{m,}` edge). Parts may span MULTIPLE tokens: literal spaces
    split a part into consecutive-token fragments and in-part dots
    enumerate space/char choices (variants(); every fragment must stay
    nonempty — _gap_part_variants). Returns (parts, gap_mins,
    head_guard, tail_guard) or None.

    Exhaustive token-assignment decomposition: parts are char-ordered
    and a part's match occupies a CONTIGUOUS token range, so only
    ADJACENT parts can share (exactly) the boundary token — each of the
    2^k merge masks turns the chain into a sequence of token-slot
    GROUPS (_gap_slot_groups; a merged gap joins the two boundary
    fragments inside one term regex, where `.+` keeps its ≥1-char
    in-token meaning and across tokens `.+`/`.*` coincide — the
    inter-token space feeds the gap). A doc matches the mask iff its
    stream has group start positions a₀, a₁, … with aᵢ₊₁ ≥ aᵢ + Lᵢ
    (no token sharing beyond the merged cases), decided greedily —
    earliest feasible start per group (_Evaluator.chain_docs).

    Edge-guard exactness (why _MAX_EDGE_GUARD = 4): a head guard of g
    dots requires g stream chars before the group-0 match start. A match
    at token position a has exactly a token lengths plus a spaces before
    it, so _guard_cells splits the g dots per candidate position into
    in-token dots / whole outside tokens / the ADJACENT token's length:
    for g ≤ 4 (g ≤ 3 on a boundary-exact/flush edge) every split needs
    AT MOST ONE unknown token length, which the lg cell answers via the
    anti-join against the short terms' positions (len < k terms are a
    tiny candidate set; absence in the positions plane ⇔ long).
    Symmetrically at the tail with the doc's token count and the
    group's LAST slot. The residue that still falls to the scan: g ≥ 5,
    or g = 4 on a flush edge — those splits need TWO token lengths at
    once (a multi-delta ¬(short ∧ short) union, not yet implemented)."""
    pattern = _fold_gap_runs(pattern)
    ms = list(_GAP_RX.finditer(pattern))
    if not 1 <= len(ms) <= _MAX_GAPS:
        return None
    starts = [0] + [m.end() for m in ms]
    ends = [m.start() for m in ms] + [len(pattern)]
    parts = [pattern[i:j] for i, j in zip(starts, ends)]
    head = len(parts[0]) - len(parts[0].lstrip("."))
    tail = len(parts[-1]) - len(parts[-1].rstrip("."))
    if head > _MAX_EDGE_GUARD or tail > _MAX_EDGE_GUARD:
        return None
    parts[0] = parts[0][head:]
    if tail:
        parts[-1] = parts[-1][:-tail]
    pvars = _gap_part_variants(parts)
    if pvars is None:
        return None
    mins = [_gap_min(m) for m in ms]
    # boundary-exact edges (empty edge fragments, uniform per part):
    # flush/min-m gaps resolve through margin-level starts plus, where
    # an adjacency cell needs an INTERMEDIATE token's length (`a .{2,}
    # b`: one token between, its length decides), the long-token filter
    # (_gap_cells lg — an anti-join against the SHORT terms' positions,
    # a tiny candidate set). Edge GUARDS — including on a boundary-
    # exact edge — close the same way (_guard_cells); only runs whose
    # cells would need a multi-token lookback return None → scan.
    hE = [vs[0][0] == "" for vs in pvars]
    tE = [vs[0][-1] == "" for vs in pvars]
    if any(m > _MAX_GAP_MIN for m in mins):
        return None
    if _guard_cells(head, hE[0]) is None or _guard_cells(tail, tE[-1]) is None:
        return None
    return parts, mins, head, tail


def _part_slots(frags: tuple[str, ...]):
    """(offset, term-regex, gram-run) per NONEMPTY fragment of one part
    variant — anchored by position in the tuple (suffix / whole / prefix /
    lone unanchored; an empty EDGE fragment makes its real neighbor a
    middle-like anchored fragment, e.g. ('a','') → 'a$': the literal
    space after 'a' forces it to the token end). Offsets number the REAL
    tokens 0..L-1. Invariants the merge in _gap_slot_groups relies on
    (merges never happen across boundary-exact edges — detect_gaps/
    forbidden masks): the first slot of a non-head-empty part never
    starts with '^' and the last slot of a non-tail-empty part never
    ends with '$'."""
    k = len(frags) - 1
    h_empty = frags[0] == ""
    slots = []
    for j, f in enumerate(frags):
        if f == "":
            continue
        if k == 0:
            rx = f
        elif j == 0:
            rx = f + "$"
        elif j == k:
            rx = "^" + f
        else:
            rx = "^" + f + "$"
        slots.append((j - h_empty, rx, required_run_from_units(_units(f))))
    return slots


def _part_len(frags: tuple[str, ...]) -> int:
    """Real-token count of a part variant (empty edges excluded)."""
    return len(frags) - (frags[0] == "") - (frags[-1] == "")


def _gap_slot_groups(pvar, mins: list[int], mask: int):
    """Token-slot groups for one (variant-choice, merge-mask): each
    group is (slots, L, head_empty, tail_empty), slots = [(offset,
    term-regex, gram-run)] over real-token offsets 0..L-1. A merged gap
    joins the accumulated group's LAST slot to the next part's FIRST
    slot inside one term regex — `last + .*/.+ + first` is anchor-exact
    by the _part_slots invariants (the gap consumes only in-token chars
    of the shared boundary token) — and the next part's remaining slots
    shift by L-1. The merged slot's gram-run is the most selective
    constituent run (a term matching the merged regex contains a match
    of every constituent). head_empty/tail_empty carry the group's
    boundary-exact edges (first part's head, last part's tail); callers
    never set a merge bit on a gap adjacent to one. Returns (groups,
    links) — links[i] is the min-char count of the NON-MERGED gap
    connecting groups i and i+1 (the chain evaluators derive each
    boundary's cells from it plus the flush flags — _gap_cells)."""
    groups, links = [], []
    slots = list(_part_slots(pvar[0]))
    L = _part_len(pvar[0])
    hE = pvar[0][0] == ""
    tE = pvar[0][-1] == ""
    for i, mn in enumerate(mins):
        nxt = _part_slots(pvar[i + 1])
        nL = _part_len(pvar[i + 1])
        if (mask >> i) & 1:  # gap i merged: boundary token shared
            gap = ".*" if mn == 0 else ".+" if mn == 1 else f".{{{mn},}}"
            _, lrx, lrun = slots[-1]
            _, frx, frun = nxt[0]
            slots = (
                slots[:-1]
                + [(L - 1, lrx + gap + frx, max(lrun, frun, key=len))]
                + [(off + L - 1, rx, run) for off, rx, run in nxt[1:]]
            )
            L += nL - 1
        else:
            groups.append((slots, L, hE, tE))
            links.append(mn)
            slots, L, hE = list(nxt), nL, pvar[i + 1][0] == ""
        tE = pvar[i + 1][-1] == ""
    groups.append((slots, L, hE, tE))
    return groups, links


def _gap_cells(groups, links):
    """Validity cells per group boundary. A next-group start a' at
    token distance d = a' − (e + L) from a prev start e satisfies a
    min-m gap iff the chars strictly between the two matches number
    ≥ m. With t = the prev match's tail margin (chars after it inside
    its last token; 0 and unavailable when the prev group is
    tail-empty — its part consumed the boundary space) and h = the next
    match's head margin (symmetric), the char count is EXACT in
    (d, t, h) whenever no intermediate token's length enters:

      neither side flush:  d = 0 → t + 1 + h      d ≥ 1 → ≥ t+h+1+2d
      prev flush (fp):     d = 0 → h              d ≥ 1 → ≥ h+2d
      next flush (fn):     d = 0 → t              d ≥ 1 → ≥ t+2d
      both flush:          d ≥ 1 → ≥ 2d−1  (d = 0 impossible: the two
                                            consumed spaces are distinct)

    Each boundary therefore reduces to a list of cells
    (h_lvl, t_lvl, d_min, lg): a' is valid iff for SOME cell, a'
    carries a head margin ≥ h_lvl, a' ≥ frontier[t_lvl] + L + d_min,
    and — when lg > 0 — the token at slot a'−1 has length ≥ lg (the
    one INTERMEDIATE token a d_min=1 adjacency cell feeds the gap
    with; evaluated as an anti-join against the positions of terms
    SHORTER than lg, a tiny candidate set), where frontier[t] = min
    chain-valid prev start with tail margin ≥ t. Margin-k starts nest
    (k+1 ⊂ k ⊂ plain: the margin regex match contains the
    smaller-margin match at the same anchor), so greedy per-level
    minima propagation stays complete — any feasible chain's aᵢ
    dominates the matching frontier by induction. Cells close for
    every combo with m ≤ _MAX_GAP_MIN: past d = 2 (or d = 1 with
    margins) the minimum char count ≥ 3 ≥ m, so at most one token
    length ever enters."""
    out = []
    for i in range(len(groups) - 1):
        fp, fn = groups[i][3], groups[i + 1][2]
        m = links[i]
        if fp and fn:
            # d ≥ 1 (the two consumed spaces are distinct); d=1 chars =
            # len₁ exactly; d=2 ≥ 3
            cells = (
                [(0, 0, 1, 0)]
                if m <= 1
                else [(0, 0, 2, 0), (0, 0, 1, m)]
            )
        elif fp:
            # d=0: chars = h; d=1: len₁ + 1 + h; d=2: ≥ 5
            cells = (
                [(0, 0, 0, 0)]
                if m == 0
                else [(0, 0, 1, 0), (m, 0, 0, 0)]
                if m <= 2
                else [(0, 0, 2, 0), (3, 0, 0, 0), (1, 0, 1, 0), (0, 0, 1, 2)]
            )
        elif fn:
            cells = (
                [(0, 0, 0, 0)]
                if m == 0
                else [(0, 0, 1, 0), (0, m, 0, 0)]
                if m <= 2
                else [(0, 0, 2, 0), (0, 3, 0, 0), (0, 1, 1, 0), (0, 0, 1, 2)]
            )
        else:
            # d=0: chars = t + 1 + h → t + h ≥ m − 1; d≥1: ≥ 3 ≥ m
            cells = (
                [(0, 0, 0, 0)]
                if m <= 1
                else [(0, 0, 1, 0)]
                + [(h, m - 1 - h, 0, 0) for h in range(m)]
            )
        out.append(cells)
    return out


def _guard_cells(g: int, flush: bool):
    """Edge-guard validity cells (j, dist_min, lg) for a run of g guard
    dots streamline() left at the chain head (the tail mirrors with the
    SUCCESSOR count in place of the position): a start at edge distance
    `dist` (tokens strictly outside the group on that side) whose edge
    slot carries j in-token guard dots has

      non-flush:   chars outside = Σ_k (len_k + 1) + j ≥ 2·dist + j
      flush edge:  chars = Σ_k (len_k + 1) − 1 ≥ 2·dist − 1   (the part
                   consumed the boundary space; no in-token variant)

    so for g ≤ 4 (g ≤ 3 on a flush edge) at most the ONE token adjacent
    to the group ever binds — the lg field, evaluated like the gap
    cells' long-token filter (anti-join against short-term positions).
    g = 4 on a flush edge (or g ≥ 5) needs a two-token lookback →
    None → scan."""
    if g == 0:
        return [(0, 0, 0)]
    if flush:
        if g == 1:
            return [(0, 1, 0)]
        if g <= 3:
            return [(0, 2, 0), (0, 1, g)]
        return None
    if g <= 2:
        return [(g, 0, 0), (0, 1, 0)]
    if g == 3:
        return [(3, 0, 0), (0, 2, 0), (1, 1, 0), (0, 1, 2)]
    if g == 4:
        return [(4, 0, 0), (0, 2, 0), (2, 1, 0), (1, 1, 2), (0, 1, 3)]
    return None


def _dp_boundaries(units: list[tuple[str, str]]) -> list[int]:
    """Indices of boundary-candidate units: literal spaces (forced
    boundaries) and dots (space OR in-token char)."""
    return [i for i, (k, _) in enumerate(units) if k in ("space", "dot")]


def _dp_seg(units, lo_b: int | None, hi_b: int | None):
    """Unit slice strictly between boundary unit lo_b and hi_b (None =
    pattern start / end). Returns None when the slice contains a literal
    space — a fragment can never contain a forced boundary, so that
    transition is invalid."""
    lo = 0 if lo_b is None else lo_b + 1
    hi = len(units) if hi_b is None else hi_b
    seg = units[lo:hi]
    if any(k == "space" for k, _ in seg):
        return None
    return seg


def _dp_validate(pattern: str) -> list[tuple[str, str]]:
    """Validate `pattern` for the positional DP: lexes, and every
    realizable nonempty segment has a required unit (the same
    all-optional-fragment rule variants() applies — every segment here
    appears as a fragment in some dot-choice, so the rejection sets
    match). Returns the unit list."""
    units = _units(pattern)
    if not units:
        raise ValueError(f"unsupported infix pattern: {pattern!r}")
    bs: list[int | None] = [None] + _dp_boundaries(units) + [None]
    # every (earlier, later) boundary pair is a realizable segment (the
    # variant choosing exactly those two as spaces and the dots between
    # as in-token chars) — including (start, end), the no-space variant
    for ai in range(len(bs) - 1):
        for bi in range(ai + 1, len(bs)):
            seg = _dp_seg(units, bs[ai], bs[bi])
            if seg and not _has_required(seg):
                raise ValueError(
                    f"segment in {pattern!r} can match empty — unsupported"
                )
    return units


def variants(pattern: str) -> list[tuple[str, ...]]:
    """All fragment-tuples the pattern can induce on the token stream:
    every '.' independently plays a space or an in-token wildcard.
    Fragment tuples with an empty MIDDLE fragment are dropped (the stream
    never has two adjacent spaces); empty EDGE fragments survive — they
    encode 'a token boundary here' (predecessor/successor must exist).
    A NONEMPTY fragment with no required unit (all its units ?/*-
    quantified) is rejected — it could match the empty string, blurring
    the token-boundary semantics."""
    units = _units(pattern)
    if not units or pattern.count(".") > _MAX_DOTS:
        raise ValueError(f"unsupported infix pattern: {pattern!r}")
    dots = [i for i, (k, _) in enumerate(units) if k == "dot"]
    out = set()
    for mask in range(1 << len(dots)):
        kinds = [k for k, _ in units]
        for bi, i in enumerate(dots):
            if (mask >> bi) & 1:
                kinds[i] = "space"
        # split the unit list into fragments on 'space' kinds
        fragment_units: list[list[tuple[str, str]]] = [[]]
        for u, k in zip(units, kinds):
            if k == "space":
                fragment_units.append([])
            else:
                fragment_units[-1].append(u)
        frags = tuple("".join(t for _, t in fu) for fu in fragment_units)
        if any(f == "" for f in frags[1:-1]):
            continue
        for f, fu in zip(frags, fragment_units):
            if f != "" and not _has_required(fu):
                raise ValueError(
                    f"fragment {f!r} in {pattern!r} can match empty — unsupported"
                )
        out.add(frags)
    return sorted(out)


def _margins(slots, hm: int, tm: int):
    """A slot sequence under margin levels (_gap_cells) or guard dots
    (_guard_cells): a HEAD margin of k requires ≥ k chars before the
    first slot's match inside its token, a TAIL margin ≥ k chars after
    the last slot's match. The _part_slots invariants guarantee the
    modified side is unanchored (cells request h > 0 only of non-head-
    empty groups, t > 0 only of non-tail-empty ones), so prepending/
    appending k dots expresses the margin exactly; the gram run is
    unchanged (a margin match contains a plain match)."""
    if hm:
        (o0, rx0, run0) = slots[0]
        slots = [(o0, "." * hm + rx0, run0)] + list(slots[1:])
    if tm:
        (oL, rxL, runL) = slots[-1]
        slots = list(slots[:-1]) + [(oL, rxL + "." * tm, runL)]
    return slots


class SparkPlane:
    """The DataFrame plane of the infix evaluator (_Evaluator): a term
    set is a DataFrame (term_hash), a position set (doc_id, a), a doc
    set (doc_id) and a frontier (doc_id, e). Every primitive is a lazy
    plan step, so a pattern compiles to ONE plan over the vocab, gram
    and index tables — no collected term lists, no corpus. `engine`
    is a SearchEngine or infix_limit's doc-range-capped _CappedView;
    only spark, index_dir, _vocab, _docs, _positions_for_hashes and
    _docs_for_hashes are touched."""

    def __init__(self, engine):
        from ..index.ngram import ensure_vocab_ngrams

        self._e = engine
        self._vocab = engine._vocab()
        self._ngrams = ensure_vocab_ngrams(engine.spark, engine.index_dir)

    def terms(self, rx: str, run: str, prefix_anchor: bool, suffix_anchor: bool):
        pruned = prune_terms_by_grams(
            self._vocab,
            self._ngrams,
            run,
            prefix_anchor=prefix_anchor,
            suffix_anchor=suffix_anchor,
        )
        base = self._vocab if pruned is None else pruned
        return base.filter(F.col("term").rlike(rx)).select("term_hash")

    def short_terms(self, n: int):
        return self._vocab.filter(F.length("term") < n).select("term_hash")

    def positions(self, terms):
        return self._e._positions_for_hashes(terms).select(
            "doc_id", F.col("pos").alias("a")
        )

    def docs(self, terms):
        return self._e._docs_for_hashes(terms).select("doc_id")

    def shift(self, ps, off: int):
        return ps.select("doc_id", (F.col("a") - F.lit(off)).alias("a"))

    def semi(self, ps, other):
        return ps.join(other, ["doc_id", "a"], "leftsemi")

    def anti(self, ps, other):
        return ps.join(other, ["doc_id", "a"], "left_anti")

    def union(self, x, y):
        return x.unionByName(y)

    union_docs = union

    def ge(self, ps, lo: int):
        return ps.filter(F.col("a") >= lo)

    def cap(self, ps, c: int):
        return (
            ps.join(self._e._docs, "doc_id")
            .filter(F.col("a") <= F.col("dl") - 1 - c)
            .select("doc_id", "a")
        )

    def first(self, ps):
        return ps.groupBy("doc_id").agg(F.min("a").alias("e"))

    def after(self, ps, fr, c: int):
        return (
            ps.join(fr, "doc_id")
            .filter(F.col("a") >= F.col("e") + c)
            .select("doc_id", "a")
        )

    def doc_ids(self, ps):
        return ps.select("doc_id")

    def dl_ge(self, n: int):
        return self._e._docs.filter(F.col("dl") >= n).select("doc_id")

    def no_docs(self):
        return self._e.spark.createDataFrame([], "doc_id long")

    def nonempty(self, ds) -> bool:
        return not ds.isEmpty()


_EMPTY = object()  # DP state: the pattern starts at this boundary


class _Evaluator:
    """The infix evaluator, written once against a plane of position-set
    primitives (SparkPlane above; serving's _NumpyPlane):

      terms(rx, run, prefix_anchor, suffix_anchor)  gram-pruned,
          regex-verified candidate term set; short_terms(n): len < n
      positions(T) / docs(T)       (doc, pos) set / doc set of a term set
      shift(P, off)                a → a − off
      semi / anti(P, Q)            keep / drop P's (doc, a) found in Q
      union(P, Q), union_docs(D, E)
      ge(P, lo), cap(P, c)         a ≥ lo / a ≤ dl − 1 − c
      first(P) → F, after(P, F, c) per-doc min a / keep a ≥ F[doc] + c
      doc_ids(P), dl_ge(n), no_docs(), nonempty(D)

    Memo tables live for one evaluation (a pattern, its branches and its
    rep probes): each distinct slot regex costs one candidate lookup +
    one positions read, each distinct slot set one anchored
    intersection."""

    def __init__(self, plane):
        self.p = plane
        self._pos: dict[str, object] = {}
        self._anchored: dict[tuple, object] = {}
        self._short: dict[int, object] = {}

    def terms(self, rx: str, run: str):
        # anchored grams are lossless only where the required run
        # touches the regex's anchored edge
        return self.p.terms(
            rx,
            run,
            bool(run) and rx.startswith("^") and rx[1:].startswith(run),
            bool(run) and rx.endswith("$") and rx[:-1].endswith(run),
        )

    def slot_positions(self, rx: str, run: str):
        if rx not in self._pos:
            self._pos[rx] = self.p.positions(self.terms(rx, run))
        return self._pos[rx]

    def union_all(self, ds: list):
        out = None
        for d in ds:
            out = d if out is None else self.p.union_docs(out, d)
        return self.p.no_docs() if out is None else out

    def long_at(self, ps, lg: int, delta: int):
        """Keep starts a whose token at slot a+delta has length ≥ lg
        (gap cells: δ = −1, the intermediate token; guard cells: −1
        before the group / +L after it) — an anti-join against the
        positions of the few terms shorter than lg (the positions plane
        lists every token slot, so absence ⇔ long)."""
        if lg not in self._short:
            self._short[lg] = self.p.positions(self.p.short_terms(lg))
        return self.p.anti(ps, self.p.shift(self._short[lg], delta))

    def anchored(self, slots):
        """Starts a of a slot sequence: the token at a+off matches slot
        regex `off` for every slot — the generalized phrase, an
        intersection of shifted position sets."""
        key = tuple((off, rx) for off, rx, _ in slots)
        if key not in self._anchored:
            ps = None
            for off, rx, run in slots:
                s = self.p.shift(self.slot_positions(rx, run), off)
                ps = s if ps is None else self.p.semi(ps, s)
            self._anchored[key] = ps
        return self._anchored[key]

    def starts(self, group, hm: int = 0, tm: int = 0, head: int = 0, tail: int = 0):
        """Starts of one token-slot group (_gap_slot_groups) under margin
        levels hm/tm (_gap_cells) and edge-guard runs head/tail: the
        head × tail guard-cell product (_guard_cells), unioned. A cell's
        j guard dots fold into the edge slot's regex like a margin (a
        guard and a margin never target the same slot side). Boundary-
        exact edges are REQUIRED constraints — a head-empty group needs
        a predecessor token (a ≥ 1), a tail-empty one a successor
        (a + L ≤ dl − 1) — and fold with the cells' outside-token
        counts into one position / successor-count filter per side; lg
        is the long-adjacent-token anti-join."""
        slots, L, hE, tE = group
        p = self.p
        u = None
        for jh, pmin, lgh in _guard_cells(head, hE):
            for jt, smin, lgt in _guard_cells(tail, tE):
                s = self.anchored(_margins(slots, hm + jh, tm + jt))
                lo, hi = max(int(hE), pmin), max(int(tE), smin)
                if lo:
                    s = p.ge(s, lo)
                if hi:
                    s = p.cap(s, L - 1 + hi)
                if lgh:
                    s = self.long_at(s, lgh, -1)
                if lgt:
                    s = self.long_at(s, lgt, L)
                u = s if u is None else p.union(u, s)
        return u

    def group_docs(self, group, head: int = 0, tail: int = 0):
        slots, L, hE, tE = group
        if len(slots) == 1 and not (head or tail or hE or tE):
            # one unguarded token: the docs plane suffices, no positions
            _, rx, run = slots[0]
            return self.p.docs(self.terms(rx, run))
        return self.p.doc_ids(self.starts(group, head=head, tail=tail))

    def chain_docs(self, groups, links, head: int, tail: int):
        """Greedy per-level frontier chain over ≥ 2 groups: frontier[t]
        = per-doc min chain-valid start with tail margin ≥ t; the next
        group's start a' is valid iff SOME boundary cell (h, t, d_min,
        lg) admits it (_gap_cells) — a' carries head margin h, a' ≥
        frontier[t] + L + d_min, and the long-token filter where lg > 0.
        A doc matches iff the last group has a valid start. Greedy
        earliest extension per level is complete for existence of ANY
        valid chain (margin-k starts nest)."""
        p = self.p
        cells = _gap_cells(groups, links)
        last = len(groups) - 1

        def group_starts(i: int, hm: int = 0, tm: int = 0):
            return self.starts(
                groups[i], hm, tm, head if i == 0 else 0, tail if i == last else 0
            )

        def levels(i: int) -> list[int]:
            # tail-margin levels group i's outgoing boundary reads
            return sorted({0} | {t for _, t, _, _ in cells[i]})

        fr = {t: p.first(group_starts(0, tm=t)) for t in levels(0)}
        for i in range(1, last + 1):
            L = groups[i - 1][1]

            def valid(tm: int):
                u = None
                for h, t, dm, lg in cells[i - 1]:
                    s = group_starts(i, hm=h, tm=tm)
                    if lg:
                        s = self.long_at(s, lg, -1)
                    s = p.after(s, fr[t], L + dm)
                    u = s if u is None else p.union(u, s)
                return u

            if i == last:
                return p.doc_ids(valid(0))
            fr = {t: p.first(valid(t)) for t in levels(i)}

    def gap_docs(self, parts: list[str], mins: list[int], head: int = 0, tail: int = 0):
        """A gap chain (detect_gaps): the union over per-part variant
        choices × 2^k merge masks, each mask's group sequence decided by
        group_docs (one group) or chain_docs. Merge bits are invalid on
        gaps whose boundary is exact (an empty edge consumes the
        inter-token space — the parts cannot share a token)."""
        from itertools import product

        pvars = _gap_part_variants(parts)
        if pvars is None:  # detect_gaps validated; defensive
            raise ValueError(f"unsupported gap parts: {parts!r}")
        out = []
        for pvar in product(*pvars):
            forbidden = sum(
                1 << i
                for i in range(len(mins))
                if pvar[i][-1] == "" or pvar[i + 1][0] == ""
            )
            for mask in range(1 << len(mins)):
                if mask & forbidden:
                    continue
                groups, links = _gap_slot_groups(pvar, mins, mask)
                out.append(
                    self.group_docs(groups[0], head, tail)
                    if len(groups) == 1
                    else self.chain_docs(groups, links, head, tail)
                )
        return self.union_all(out)

    def dp_docs(self, pattern: str):
        """Per-boundary positional DP — evaluates a many-wildcard pattern
        in O(b²) fragment evaluations instead of 2^dots variant
        enumeration (the reference answers the same patterns via its NFA
        walk, src/main/nfa.c:418).

        Boundary candidates = literal spaces (forced) and dots (space or
        in-token char). State S[i] = position set of (doc, t): SOME
        choice of the earlier dots matches the pattern prefix up to
        boundary i (chosen as a space), t the last consumed token. A
        transition extends by one whole token matching the in-token
        segment between two boundaries (dots inside play chars); the
        answer joins each state to its prefix-anchored tail. Every
        variant corresponds to exactly one path through the chosen
        boundaries, so the union of path endpoints equals the variant
        union."""
        p = self.p
        units = _dp_validate(pattern)
        bounds = _dp_boundaries(units)

        def seg_positions(seg, pre: str, post: str):
            f = "".join(t for _, t in seg)
            return self.slot_positions(pre + f + post, required_run_from_units(seg))

        def advance(state, step):
            # step's tokens right after the state's last token (_EMPTY:
            # the pattern starts at a boundary — a predecessor must exist)
            if state is _EMPTY:
                return p.ge(step, 1)
            return p.semi(step, p.shift(state, -1))

        out = []
        seg = _dp_seg(units, None, None)
        if seg:  # no-space variant: the whole pattern inside one token
            f = "".join(t for _, t in seg)
            out.append(p.docs(self.terms(f, required_run_from_units(seg))))
        states: list = [None] * len(bounds)
        for i, b in enumerate(bounds):
            seg = _dp_seg(units, None, b)
            if seg is not None:
                states[i] = seg_positions(seg, "", "$") if seg else _EMPTY
            # _EMPTY arises only at unit 0, where no earlier boundary
            # exists, so it never meets a transition below
            for j in range(i):
                seg = _dp_seg(units, bounds[j], b)
                if states[j] is None or not seg:
                    continue  # unreachable, forced boundary, adjacent spaces
                nxt = advance(states[j], seg_positions(seg, "^", "$"))
                states[i] = nxt if states[i] is None else p.union(states[i], nxt)
            tail = _dp_seg(units, b, None)
            if states[i] is None or tail is None:
                continue
            if tail:
                out.append(p.doc_ids(advance(states[i], seg_positions(tail, "^", ""))))
            elif states[i] is _EMPTY:
                # the pattern is one boundary unit: any doc with ≥ 2 tokens
                out.append(p.dl_ge(2))
            else:  # empty last fragment: a successor token must exist
                out.append(p.doc_ids(p.cap(states[i], 1)))
        return self.union_all(out)

    def rep_kmax(self, body: str, lo: int) -> int:
        """expand()'s rep_kmax callback: the largest k ≤ _REP_CAP with
        ANY doc whose stream contains k consecutive textual repeats of
        `body`, decided by index-answered emptiness probes of the finite
        pattern `(body)` × k. Monotone in k, so a linear ascent from
        max(lo, 1) terminates at the first empty k; kmax < lo means no
        doc can match the quantified branch at all."""
        grp = "(" + body + ")"

        def nonempty(k: int) -> bool:
            pats = expand(grp * k, rep_kmax=self.rep_kmax)
            return self.p.nonempty(self.finite_docs(pats))

        k = max(lo, 1)
        if not nonempty(k):
            return k - 1
        while k < _REP_CAP:
            if not nonempty(k + 1):
                return k
            k += 1
        raise ValueError(
            f"group repetition exceeds probe cap ({_REP_CAP}): {body!r}"
        )

    def finite_docs(self, pats: list[str]):
        """Doc set of already-expanded FINITE patterns (no cross-token
        groups, no unbounded group repetition) — the body shared by
        infix_docs and the rep probes. Each branch is streamline()d;
        gap chains go to gap_docs, many-wildcard branches (> _ENUM_DOTS
        dots) to the DP — polynomial in dots instead of 2^dots — and the
        rest enumerate variants(), deduplicated across branches. A
        variant is one token-slot group (its fragments anchored by
        position: suffix / whole / prefix, empty edges = required
        neighbor tokens), evaluated exactly like a one-group gap chain."""
        out, all_frags = [], set()
        for pat in pats:
            pat = streamline(pat)
            g = detect_gaps(pat) if pat else None
            if pat == "":
                out.append(self.p.dl_ge(0))  # a pure edge-gap branch (`.*`)
            elif g is not None:
                out.append(self.gap_docs(*g))
            elif pat.count(".") > _ENUM_DOTS:
                out.append(self.dp_docs(pat))
            else:
                all_frags.update(variants(pat))
        for frags in sorted(all_frags):
            if not any(frags):
                # pure-space variant: any doc with ≥ len(frags) tokens
                out.append(self.p.dl_ge(len(frags)))
            else:
                (group,), _ = _gap_slot_groups([frags], [], 0)
                out.append(self.group_docs(group))
        return self.union_all(out)


_REP_CAP = 8  # interior-rep probe ascent cap: X^9 still matching → scan


def dp_docs(plane, pattern: str):
    """The positional DP alone (_Evaluator.dp_docs) — the differential
    tests compare it with the variant enumeration."""
    return _Evaluator(plane).dp_docs(pattern)


def infix_docs(plane, pattern: str):
    """Doc set (in the plane's form; the DataFrame plane's may repeat
    ids) of the docs whose token stream matches `pattern` — answered
    entirely from the index. See the module docstring for the supported
    subset; SearchEngine.scan_docs is the raw-text fallback/oracle."""
    ev = _Evaluator(plane)
    return ev.finite_docs(expand(pattern, rep_kmax=ev.rep_kmax))
