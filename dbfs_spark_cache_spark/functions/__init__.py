"""Reusable column-expression builders (all JVM-side, codegen-friendly).

These are the engine's "scalar function" layer: vector math over
``array<float>`` columns and text primitives shared by the dedup /
similarity / text operators. Everything returns a Column built from
``pyspark.sql.functions`` higher-order functions — no Python UDFs, so the
expressions inline into whole-stage codegen.
"""
from __future__ import annotations

import re
from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


# -- vectors ---------------------------------------------------------------

def vec_dot(a, b) -> Column:
    """Dot product of two array columns (double accumulation)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def vec_sq_norm(a) -> Column:
    return F.aggregate(
        a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )


def vec_l2_norm(a) -> Column:
    return F.sqrt(vec_sq_norm(a))


def vec_cosine(a, b) -> Column:
    return vec_dot(a, b) / (vec_l2_norm(a) * vec_l2_norm(b))


def sign_bits_str(a, n: int) -> Column:
    """Axis-aligned sign-bit LSH signature as a string: '1' per
    non-negative dim over the first ``n`` dims ('0' otherwise, including
    past-the-end / NULL dims — ``F.get`` past the array end is NULL and
    the three-valued ``>=`` fails the WHEN on both engines).

    r13 (giant lens): the index is 0-based ``F.get``, NOT ``element_at``
    — under ANSI (Spark 4 default) ``element_at`` past the array end
    RAISES INVALID_ARRAY_INDEX, so ONE truncated vector killed the
    whole corpus pass of every consumer while this docstring claimed
    NULL semantics. ``F.get`` is the documented contract; consumers
    additionally gate wrong-dimension vectors out entirely
    (``similarity.DUCK_VEC_USABLE``).

    r10 consolidation (its four consumers' shared due slot): this exact
    comprehension was hand-kept in similarity_lsh_buckets (8-bit),
    similarity_ivf_search (4-bit), dedup_embedding_cosine (8-bit) and —
    as the integer twin below — similarity_multiprobe, the same
    hand-kept-copy drift class the r8 text.py cleaning-chain extraction
    fixed. Bit-for-bit parity with all four inline variants (hostile
    vectors included) pinned in tests/test_r10_window_fixes.py.
    """
    return F.concat(
        *[
            F.when(F.get(a, F.lit(i)) >= 0, "1").otherwise("0")
            for i in range(n)
        ]
    )


def sign_bits_int(a, n: int) -> Column:
    """Integer twin of ``sign_bits_str``: bit i set iff dim i+1 is
    non-negative — the XOR-probeable form multi-probe LSH needs.
    0-based ``F.get`` for the same ANSI OOB reason as the string twin."""
    acc = F.lit(0)
    for i in range(n):
        acc = acc + F.when(
            F.get(a, F.lit(i)) >= 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return acc.cast("int")


def vec_finite(a) -> Column:
    """TRUE iff the array column is a USABLE embedding: non-NULL with
    every component present and finite. The vector twin of
    ``registry.finite_or_null`` (r11 nonfinite lens — true NaN/±Inf
    storage, which the earlier pandas-written probes could not produce
    because ``from_pandas`` converts NaN to parquet NULL): a NaN/Inf
    component poisons every JVM-side fold (dot, norm, distance) into
    NaN, a NULL component NULL-propagates Spark's ``aggregate`` fold
    while DuckDB's ``list_sum`` SKIPS it — silent cross-engine drift —
    and the quantizer's ANSI bigint cast crashes outright on either.
    The SQL twin is::

        (v IS NOT NULL AND
         len(list_filter(v, x -> x IS NULL OR NOT isfinite(x))) = 0)

    (kept in ``similarity.DUCK_VEC_FINITE``)."""
    c = F.col(a) if isinstance(a, str) else a
    bad = F.exists(
        c, lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(float("inf")))
    )
    return c.isNotNull() & ~bad


def hyperplane_signature(a, planes: Sequence[Sequence[float]]) -> Column:
    """Random-hyperplane LSH signature: one bit per plane (sign of the dot
    product with a fixed plane vector). ``planes`` is a driver-side list of
    plane vectors, inlined as array literals — broadcast-free and exact."""
    bits = []
    for plane in planes:
        plane_col = F.array(*[F.lit(float(v)) for v in plane])
        bits.append(F.when(vec_dot(a, plane_col) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


# -- schema hygiene --------------------------------------------------------

# ONE class string drives both detection and rewrite: a character added
# to the class (e.g. ':', which Delta also rejects) must change both or
# a "sanitized" name still breaks the write.
_INVALID_NAME_CLASS = r"[ ,;{}()\n\t=]"
_INVALID_NAME_CHARS = re.compile(_INVALID_NAME_CLASS)
_INVALID_NAME_RUN = re.compile(_INVALID_NAME_CLASS + "+")


def sanitize_columns(df):
    """Rename columns containing characters Parquet/Delta table writes
    reject (`` ,;{}()\\n\\t=``) — e.g. auto-generated aggregate names like
    ``sum(bar)``. The reference documents this failure and requires manual
    aliasing (reference: README.md:169-181); this helper automates it:
    ``sum(bar)`` -> ``sum_bar``.
    """
    renames = {}
    seen = set(df.columns)
    for col in df.columns:
        if _INVALID_NAME_CHARS.search(col):
            clean = _INVALID_NAME_RUN.sub("_", col).strip("_")
            if not clean:  # a name of ONLY invalid chars, e.g. "()"
                clean = "col"
            while clean in seen:
                clean += "_"
            renames[col] = clean
            seen.add(clean)
    for old, new in renames.items():
        df = df.withColumnRenamed(old, new)
    return df


# -- UDF identity ----------------------------------------------------------

def content_addressed_udf(fn, return_type, vectorized: bool = True):
    """Wrap a Python function as a (pandas) UDF whose *name* embeds a hash
    of its bytecode and constants.

    Fixes a documented reference gap (reference: core_caching.py:318-319,
    README.md:196 — "UDF code changes don't change the hash, warning only"):
    the UDF name appears in the logical-plan text, so embedding the code
    hash there makes the cache fingerprint sensitive to body changes.

    The tag must be STABLE ACROSS PROCESSES or it defeats the persistent
    cache it protects (a session-dependent name means a new fingerprint
    every run, so no disk cache is ever hit again). Raw ``repr`` of
    constants and closure values is NOT stable — nested lambdas repr as
    ``<code object … at 0x7f…>`` and default object reprs embed
    addresses — so nested code objects hash structurally (their own
    bytecode + consts, recursively) and every other repr has its memory
    addresses scrubbed. Two closure values whose reprs differ only by
    address collide, which is acceptable: the tag is an invalidation aid,
    and such reprs carry no content to distinguish anyway.

    REFERENCED GLOBALS participate too (r12 review): a UDF body calling a
    module-level helper (``def scorer(s): return _normalize(s) * W``)
    shares bytecode/consts/closure across edits OF THE HELPER OR THE
    CONSTANT — without chasing them, editing ``_normalize`` or ``W``
    kept the old tag and served the stale cached result, the exact
    staleness class this wrapper exists to close. Globals that are plain
    Python functions hash structurally (code + defaults + closure,
    recursing into THEIR referenced globals, cycle-guarded by qualname);
    globals that are literals (or tuples of literals) hash by repr.
    Everything else — modules, classes, arbitrary objects — is skipped
    on purpose: their reprs embed file paths and addresses, which would
    make the tag differ across machines sharing one cache (the
    cross-process stability rule above outranks invalidation depth).
    Tag-format note: tags of UDFs referencing module functions/constants
    change once at this boundary — their CA-UDF cache entries rebuild.
    """
    import hashlib
    import re as _re
    import types as _types

    # Scrub only ADDRESS contexts ("<code object f at 0x7f..>", "<Model
    # object at 0x7f..>") — a bare 0x[hex] pattern would also collapse
    # hex string LITERALS, so editing '0xff' to '0xaa' in the body kept
    # the old tag and served the old UDF's cached output.
    _addr = _re.compile(r" at 0x[0-9a-f]+")

    def _feed(digest, obj):
        if hasattr(obj, "co_code"):  # code object (top level or nested)
            digest.update(obj.co_code)
            # co_names carries referenced globals/attributes: floor->ceil
            # differs ONLY here (identical bytecode), so omitting it made
            # those two bodies share a tag.
            digest.update(repr(obj.co_names).encode())
            for const in obj.co_consts:
                _feed(digest, const)
        elif isinstance(obj, (set, frozenset)):
            # A set's repr order follows the per-process randomized string
            # hash (PYTHONHASHSEED), and `x in {'a', 'b'}` compiles a
            # frozenset into co_consts — raw repr made the tag different
            # in EVERY process, so the persistent cache never hit again
            # for any UDF with a set-literal membership test. Elements
            # canonicalize RECURSIVELY (each through its own _feed
            # sub-digest, then sorted): sorting raw element reprs left a
            # set OF frozensets unstable — each inner frozenset's repr is
            # itself hash-ordered, so the outer sort keys changed per
            # process and the bug survived one nesting level down.
            digest.update(b"<set>")
            for item in sorted(_sub_digest(x) for x in obj):
                digest.update(item.encode())
        elif isinstance(obj, dict):
            # dict repr preserves insertion order (stable), but two dicts
            # built in different orders are the same value — canonicalize
            # by sorted canonical-key digest (repr-sorting broke for
            # unstable-repr keys like frozensets, same as the set case).
            digest.update(b"<dict>")
            # key= so a (never-expected) digest tie can't fall through to
            # comparing raw keys, which may be mutually unorderable
            for kd, key in sorted(
                ((_sub_digest(k), k) for k in obj), key=lambda t: t[0]
            ):
                digest.update(kd.encode())
                _feed(digest, obj[key])
        elif isinstance(obj, (tuple, list)):
            # Order is semantic — keep it — but recurse so an unstable-
            # repr member (a set, a nested code object) still
            # canonicalizes instead of falling to raw repr below.
            digest.update(b"<seq>")
            for item in obj:
                _feed(digest, item)
        else:
            digest.update(_addr.sub(" at 0x", repr(obj)).encode())

    def _sub_digest(obj) -> str:
        sub = hashlib.md5()
        _feed(sub, obj)
        return sub.hexdigest()

    _LITERALS = (int, float, complex, str, bytes, bool, type(None))

    def _collect_names(code_obj, out: set) -> None:
        out.update(code_obj.co_names)
        for const in code_obj.co_consts:
            if hasattr(const, "co_code"):
                _collect_names(const, out)

    def _feed_fn_identity(digest, f, visited: set) -> None:
        """Structural identity of one function: code + defaults +
        closure + its own referenced globals (recursive)."""
        _feed(digest, f.__code__)
        for dval in f.__defaults__ or ():
            _feed(digest, dval)
        for kname in sorted(f.__kwdefaults__ or {}):
            digest.update(kname.encode())
            _feed(digest, (f.__kwdefaults__ or {})[kname])
        if f.__closure__:
            for cell in f.__closure__:
                try:
                    _feed(digest, cell.cell_contents)
                except ValueError:  # empty cell (still-building recursion)
                    digest.update(b"<empty-cell>")
        names: set = set()
        _collect_names(f.__code__, names)
        for n in sorted(names):
            if n in f.__globals__:
                _feed_global(digest, n, f.__globals__[n], visited)

    def _feed_global(digest, name: str, val, visited: set) -> None:
        if isinstance(val, _types.FunctionType):
            # Visited is keyed by OBJECT IDENTITY, not (module, qualname):
            # all module-level lambdas share qualname '<lambda>', so a
            # qualname key treated the SECOND referenced lambda as a cycle
            # and its body never entered the digest — editing it kept the
            # old tag and served a stale cached result (ADVICE r12 #1).
            # id() is safe here because every visited function is held
            # alive by the globals dict for the duration of this (fully
            # synchronous) tag computation, and the id never enters the
            # digest — only the name-bearing cycle marker does, so tags
            # stay machine-stable.
            key = id(val)
            if key in visited:
                digest.update(f"<cycle:{name}>".encode())
                return
            visited.add(key)
            digest.update(f"<global-fn:{name}>".encode())
            _feed_fn_identity(digest, val, visited)
        elif isinstance(val, _LITERALS) or (
            isinstance(val, tuple) and all(isinstance(x, _LITERALS) for x in val)
        ):
            digest.update(f"<global-const:{name}>".encode())
            _feed(digest, val)
        # modules / classes / arbitrary objects: deliberately skipped —
        # path- and address-bearing reprs would destabilize the tag
        # across machines; their NAMES already ride in the code hash.

    code = fn.__code__
    digest = hashlib.md5()
    _feed(digest, code)
    if fn.__closure__:
        for cell in fn.__closure__:
            _feed(digest, cell.cell_contents)
    _referenced: set = set()
    _collect_names(code, _referenced)
    _visited: set = {id(fn)}
    for _n in sorted(_referenced):
        if _n in fn.__globals__:
            _feed_global(digest, _n, fn.__globals__[_n], _visited)
    # Default values are behavior too: `def f(s, scale=2.0)` and
    # `def f(s, scale=3.0)` share bytecode/consts/closure, so without
    # this a default edit kept the old tag and served the stale cached
    # result (ADVICE r7 #2). kw-only defaults hash by (name, value) in
    # name order — dict iteration order is definition order, which a
    # pure reorder of the signature would change without changing
    # behavior.
    for dval in fn.__defaults__ or ():
        _feed(digest, dval)
    for kname in sorted(fn.__kwdefaults__ or {}):
        digest.update(kname.encode())
        _feed(digest, (fn.__kwdefaults__ or {})[kname])
    tag = digest.hexdigest()[:10]
    name = f"{fn.__name__}__{tag}"

    # The UDF's plan-visible name is captured at wrap time from __name__, so
    # rename a *copy* first (mutating the original would leak the rename).
    import types

    renamed = types.FunctionType(
        code, fn.__globals__, name, fn.__defaults__, fn.__closure__
    )
    # FunctionType() drops keyword-only defaults and function attributes;
    # without the copy a wrapped `def fn(s, *, scale=2.0)` raises
    # TypeError for the missing kw-only argument at executor run time.
    renamed.__kwdefaults__ = fn.__kwdefaults__
    renamed.__dict__.update(fn.__dict__)
    if vectorized:
        return F.pandas_udf(renamed, returnType=return_type)
    return F.udf(renamed, returnType=return_type)


# -- text ------------------------------------------------------------------

def tokenize(text) -> Column:
    """Whitespace tokenization (fixture corpora are pre-normalized)."""
    return F.split(text, " ")


def token_shingles(text, k: int = 3) -> Column:
    """Array of k-token shingles (strings), built JVM-side. A string
    argument is a column NAME (resolved via F.col, so names needing
    backticks work; the former raw-SQL branch duplicated the transform
    logic and broke on names with spaces)."""
    return _shingles_col(F.col(text) if isinstance(text, str) else text, k)


def _shingles_col(text_col: Column, k: int) -> Column:
    toks = F.split(text_col, " ")
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )


def normalized_text(text) -> Column:
    """Lowercase, collapse whitespace, trim — the dedup normalization.

    The whitespace class is EXPLICIT (r15 ctrl-lens discipline): Java's
    ``\\s`` includes vertical tab ``\\x0B`` while RE2's (DuckDB, Go) does
    not, so a shorthand here would normalize differently than an oracle
    or a sibling engine running the byte-same pattern — the silent
    cross-engine drift class. ``[ \\t\\n\\x0B\\f\\r]`` is the exact set
    both regex engines agree on when spelled out (same class
    ``operators.dedup`` uses)."""
    return F.lower(F.trim(F.regexp_replace(text, r"[ \t\n\x0B\f\r]+", " ")))
