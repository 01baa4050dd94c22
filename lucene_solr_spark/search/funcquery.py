"""Function-query parser — the Solr ValueSource expression surface.

Reference: solr/core/src/java/org/apache/solr/search/ValueSourceParser.java
(registry of named sources) and lucene/queries/src/java/org/apache/lucene/
queries/function/valuesource/* for the semantics of each function:

  recip(x,m,a,b) = a/(m*x+b)     ReciprocalFloatFunction.java
  linear(x,m,c)  = m*x+c         LinearFloatFunction.java
  div(a,b), sum(..), product(..) DivFloatFunction / SumFloatFunction /
                                 ProductFloatFunction
  log(x) base 10, sqrt(x), abs(x), pow(a,b)  (math value sources)
  ms(a,b)        date diff in milliseconds (ValueSourceParser.java:561;
                 args are date-math strings or timestamp fields)
  if(c,a,b)      c treated as boolean (numeric != 0 / non-null) —
                 ValueSourceParser.java:759 + IfFunction.java
  def(x,d)       x, or d where x is missing/null
                 (ValueSourceParser.java:770, DefFunction)
  scale(x,l,u)   min-max rescale of x into [l,u] over ALL docs
                 (ValueSourceParser.java:161, ScaleFloatFunction.java —
                 createWeight scans every value for min/max; here that
                 is one tiny Spark agg collected as two literals)
  query('q')     the relevance score of an embedded query, 0 for
                 non-matching docs (ValueSourceParser.java:266,
                 QueryValueSource.java defVal=0)
  map(x,l,u,t[,d])  RangeMapFloatFunction; sub, mod, max(..), min(..)
  exists(f), not/and/or/xor  (ExistsValueSource + BoolFunction family,
                 emitted as 1.0/0.0 so they compose with if()/math)
  termfreq(f,t)  raw per-doc term frequency (TermFreqValueSource) —
                 an attachment frame like query(); 0 for non-matches
  tf(f,t)        similarity tf of the raw freq (TFValueSource with
                 classic DefaultSimilarity: sqrt(freq))
  norm(f)        decoded norm byte per doc (NormValueSource +
                 floatToByte315 decode table as a 256-literal array)
  strdist(a,b,'edit')  Levenshtein similarity 1 - dist/maxLen
                 (StrDistanceFunction; jw/ngram measures not compiled —
                 loud FuncParseError)
  geodist(latf,lonf,lat,lon)  haversine km (HaversineConstFunction)
  ln/exp/sin/cos/tan/asin/acos/atan/sinh/cosh/tanh/cbrt/rad/deg/
  floor/ceil/rint/atan2/hypot  (the DoubleValueSource math registry)
  docfreq(f,t), totaltermfreq(f,t)/ttf, idf(f,t), maxdoc(), numdocs()
                 index-stat sources bound to literals at compile time
                 from the live collection stats (needs searcher ctx)
  ord(f)/rord(f) sorted-terms ordinal (OrdFieldSource /
                 ReverseOrdFieldSource — dense_rank attachment over
                 the distinct-value frame; rord = numOrd - ord)
  boost('q',f)   BoostedQuery: query score * f, 0 for non-matches
  sqedist/dist   vector distances (SquaredEuclideanFunction /
                 VectorDistanceFunction, power 0/1/2/p; vector() or
                 flat even arg list split in half)
  hsin/geohash/ghhsin  sphere + geohash distance family (pure
                 Catalyst bit-interleave encode/decode, no UDFs)
  literal('s'), top(x) no-op, pi(), e(), true(), false()
  constants and bare field names

Everything compiles to a Catalyst Column (whole-stage codegen — this is
why the engine needs no ValueSource class hierarchy: Spark expressions
ARE the value sources). ``query()`` is the one source that cannot be a
pure column: it compiles to a reference to a scored-frame attachment the
caller left-joins in (``compile_func`` returns those frames).

Used by handler.select's bf (additive boost), boost (multiplicative)
and sort=func(...) params, mirroring edismax
(ExtendedDismaxQParser bf/boost handling).
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..functions.literals import const_array

_TOK = re.compile(
    r"\s*(?:"
    r"(?P<num>-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)"
    r"|(?P<str>'[^']*')"
    r"|(?P<dm>NOW[A-Za-z0-9+\-/]*|\d{4}-\d{2}-\d{2}T[0-9:.]+Z[A-Za-z0-9+\-/]*)"
    r"|(?P<name>[A-Za-z_][A-Za-z0-9_]*)"
    r"|(?P<ch>[(),])"
    r")"
)


class FuncParseError(ValueError):
    pass


def _tokens(s: str):
    pos = 0
    out = []
    while pos < len(s):
        m = _TOK.match(s, pos)
        if not m or m.end() == pos:
            if s[pos:].strip():
                raise FuncParseError(f"cannot parse at: {s[pos:]!r}")
            break
        out.append(m)
        pos = m.end()
    return out


# ---------------- AST ----------------
# nodes: ("num", float) | ("field", name) | ("dm", expr) |
#        ("str", text) | ("call", name, [nodes])


def parse_ast(expr: str):
    toks = _tokens(expr)

    def tok(j):
        # every token read is bounds-checked so a truncated expression
        # like 'sum(' surfaces as FuncParseError, never IndexError
        if j >= len(toks):
            raise FuncParseError("unexpected end of expression")
        return toks[j]

    def parse(i: int):
        m = tok(i)
        if m.group("num"):
            return ("num", float(m.group("num"))), i + 1
        if m.group("str"):
            return ("str", m.group("str")[1:-1]), i + 1
        if m.group("dm"):
            return ("dm", m.group("dm")), i + 1
        if not m.group("name"):
            raise FuncParseError(f"unexpected token {m.group(0)!r}")
        name = m.group("name")
        if i + 1 < len(toks) and toks[i + 1].group("ch") == "(":
            args = []
            j = i + 2
            if tok(j).group("ch") == ")":
                j += 1
            else:
                while True:
                    a, j = parse(j)
                    args.append(a)
                    ch = tok(j).group("ch")
                    j += 1
                    if ch == ")":
                        break
                    if ch != ",":
                        raise FuncParseError("expected ',' or ')'")
            return ("call", name, args), j
        return ("field", name), i + 1

    node, i = parse(0)
    if i != len(toks):
        raise FuncParseError("trailing tokens")
    return node


import itertools

# process-global so attachments from SEPARATE compile_func calls can be
# joined onto one frame without column collisions (handler.select joins
# bf + boost attachment lists together)
_ALIAS_COUNTER = itertools.count()


class _Ctx:
    """Compile context: deterministic NOW anchor, searcher/docs for the
    sources that need a data pass (scale) or an embedded query."""

    def __init__(self, now=None, searcher=None, docs=None):
        self.now = now
        self.searcher = searcher
        self.docs = docs
        self.attachments: list[tuple[str, DataFrame]] = []

    def next_alias(self) -> str:
        return f"__fq{next(_ALIAS_COUNTER)}"


def _epoch_ms(dm_expr: str, ctx: _Ctx) -> int:
    from ..functions.datemath import parse_date_math

    dt = parse_date_math(dm_expr, ctx.now)
    return int(dt.timestamp() * 1000)


def _ms_arg(node, ctx: _Ctx) -> Column:
    """An ms() argument: date-math string -> epoch-ms literal;
    field -> unix_millis of the timestamp column; else a numeric
    value-source already in ms."""
    if node[0] == "dm":
        return F.lit(float(_epoch_ms(node[1], ctx)))
    if node[0] == "field":
        return F.unix_millis(
            F.col(node[1]).cast("timestamp")
        ).cast("double")
    return _compile(node, ctx)


def _compile(node, ctx: _Ctx) -> Column:
    kind = node[0]
    if kind == "num":
        return F.lit(node[1])
    if kind == "field":
        return F.col(node[1]).cast("double")
    if kind == "dm":
        return F.lit(float(_epoch_ms(node[1], ctx)))
    if kind == "str":
        raise FuncParseError(
            "quoted string only valid as a query(...) argument"
        )
    name, raw_args = node[1], node[2]

    def need(n: int):
        if len(raw_args) != n:
            raise FuncParseError(
                f"{name} takes {n} args, got {len(raw_args)}"
            )

    # --- sources needing raw-arg access -------------------------------
    if name == "ms":
        # ms() = NOW anchor; ms(a) = epoch ms of a; ms(a,b) = a - b
        # (ValueSourceParser.java:561 DualFloatFunction "ms")
        if len(raw_args) == 0:
            return F.lit(float(_epoch_ms("NOW", ctx)))
        if len(raw_args) == 1:
            return _ms_arg(raw_args[0], ctx)
        need(2)
        return _ms_arg(raw_args[0], ctx) - _ms_arg(raw_args[1], ctx)
    if name == "def":
        # DefFunction: first source's value, default where missing/null
        need(2)
        return F.coalesce(
            _compile(raw_args[0], ctx), _compile(raw_args[1], ctx)
        )
    if name == "query":
        # QueryValueSource: the embedded query's relevance score per
        # doc, defVal=0 for non-matches. Compiles to a column over an
        # attachment frame (doc_id, __fq{i}) the caller joins in.
        need(1)
        if raw_args[0][0] != "str":
            raise FuncParseError("query(...) takes a quoted query string")
        if ctx.searcher is None:
            raise FuncParseError(
                "query(...) needs a searcher context (use compile_func)"
            )
        from .qparser import parse_lucene

        alias = ctx.next_alias()
        scored = (
            ctx.searcher.score(parse_lucene(raw_args[0][1]))
            .groupBy("doc_id")
            .agg(F.sum("score").alias(alias))
        )
        ctx.attachments.append((alias, scored))
        return F.coalesce(F.col(alias).cast("double"), F.lit(0.0))
    if name == "scale":
        # ScaleFloatFunction: (x - minS) * (u - l)/(maxS - minS) + l,
        # min/max over EVERY doc (createWeight scans all values —
        # here one Spark agg collected as two literals)
        need(3)
        if ctx.docs is None:
            raise FuncParseError(
                "scale(...) needs a docs context (use compile_func)"
            )
        x = _compile(raw_args[0], ctx)
        lo = _compile(raw_args[1], ctx)
        hi = _compile(raw_args[2], ctx)
        row = ctx.docs.agg(
            F.min(x).alias("mn"), F.max(x).alias("mx")
        ).collect()[0]
        mn, mx = float(row["mn"]), float(row["mx"])
        span = (mx - mn) or 1.0  # all-equal column: Lucene emits l
        return (x - F.lit(mn)) * ((hi - lo) / F.lit(span)) + lo

    if name in ("docfreq", "totaltermfreq", "ttf", "idf"):
        # index-stat sources (ValueSourceParser.java "docfreq"/
        # "totaltermfreq"/"idf"): resolved to literals from the live
        # collection stats at compile time, like Lucene binds them in
        # createWeight. Signature docfreq(field, term) — the field arg
        # is accepted for parity and ignored (single text field here).
        if ctx.searcher is None:
            raise FuncParseError(f"{name}(...) needs a searcher context")
        term_node = raw_args[-1]
        if term_node[0] not in ("str", "field"):
            raise FuncParseError(f"{name} takes a term argument")
        term = term_node[1]
        st = ctx.searcher.index.term_stats([term]).get(term, (0, 0))
        if name == "docfreq":
            return F.lit(float(st[0]))
        if name in ("totaltermfreq", "ttf"):
            return F.lit(float(st[1]))
        import math

        n = ctx.searcher.index.stats.max_doc
        return F.lit(math.log(1 + (n - st[0] + 0.5) / (st[0] + 0.5)))
    if name in ("termfreq", "tf"):
        # TermFreqValueSource / TFValueSource (ValueSourceParser
        # "termfreq"/"tf"): per-doc raw frequency of a term, as an
        # attachment frame (doc_id, __fq{i}) the caller left-joins —
        # non-matching docs read 0. tf() applies the classic
        # DefaultSimilarity tf = sqrt(freq) (TFIDFSimilarity.java).
        # Signature (field, term); field accepted for parity.
        need(2)
        term_node = raw_args[-1]
        if term_node[0] not in ("str", "field"):
            raise FuncParseError(f"{name} takes a term argument")
        if ctx.searcher is None:
            raise FuncParseError(
                f"{name}(...) needs a searcher context (use compile_func)"
            )
        alias = ctx.next_alias()
        frame = (
            ctx.searcher._postings_for([term_node[1]])
            .groupBy("doc_id")
            .agg(F.sum("tf").alias(alias))
        )
        ctx.attachments.append((alias, frame))
        raw = F.coalesce(F.col(alias).cast("double"), F.lit(0.0))
        return F.sqrt(raw) if name == "tf" else raw
    if name == "norm":
        # NormValueSource: similarity.decodeNormValue(norms[doc]) —
        # the norm byte rides on every posting row (builder.py), so the
        # per-doc frame is one groupBy; decode = the same 256-entry
        # floatToByte315 table BM25 scoring uses, as an array literal.
        need(1)
        if ctx.searcher is None:
            raise FuncParseError(
                "norm(...) needs a searcher context (use compile_func)"
            )
        import numpy as np

        from ..index.norms import byte315_to_float

        decode = byte315_to_float(np.arange(256, dtype=np.int64))
        alias = ctx.next_alias()
        frame = (
            ctx.searcher.index.postings.groupBy("doc_id")
            .agg(F.first("norm_byte").alias("__nb"))
            .select(
                "doc_id",
                F.element_at(
                    const_array(decode.tolist(), "double"),
                    F.col("__nb") + 1,
                ).alias(alias),
            )
        )
        ctx.attachments.append((alias, frame))
        # docs with no indexed terms: norms[doc]=0 -> decode 0.0
        return F.coalesce(F.col(alias).cast("double"), F.lit(0.0))
    if name == "strdist":
        # StrDistanceFunction (ValueSourceParser "strdist"): similarity
        # in [0,1]. 'edit' = 1 - levenshtein/maxLen (commons-lang
        # getLevenshteinDistance normalization); 'jw' =
        # JaroWinklerDistance and 'ngram' = NGramDistance(2) via the
        # spellcheck StringDistance kernels (Arrow-batched when one
        # side is a column); other measures loud-error.
        need(3)
        # the measure may be quoted or a bare word (Solr accepts
        # strdist("SFO", dist, jw) unquoted)
        measure = (
            raw_args[2][1] if raw_args[2][0] in ("str", "field") else None
        )
        if measure not in ("edit", "jw", "ngram"):
            raise FuncParseError(
                "strdist measure must be 'edit', 'jw' or 'ngram'"
            )

        def _sarg(a):
            if a[0] == "str":
                return F.lit(a[1])
            if a[0] == "field":
                return F.col(a[1]).cast("string")
            if a[0] == "call" and a[1] == "literal":
                return _compile(a, ctx)
            raise FuncParseError("strdist args must be fields or strings")

        if measure in ("jw", "ngram"):
            # one side must be a string literal (the Solr idiom:
            # strdist("target", field, jw)); the other is a column
            lits = [a for a in raw_args[:2] if a[0] == "str"]
            cols = [a for a in raw_args[:2] if a[0] != "str"]
            if len(lits) != 1 or len(cols) != 1:
                raise FuncParseError(
                    "strdist jw/ngram needs one literal + one field"
                )
            target = lits[0][1]
            if measure == "jw":
                from .spellcheck import jaro_winkler_expr

                return jaro_winkler_expr(target)(_sarg(cols[0]))
            from .spellcheck import ngram_distance_expr

            return ngram_distance_expr(target)(_sarg(cols[0]))

        s1, s2 = _sarg(raw_args[0]), _sarg(raw_args[1])
        maxlen = F.greatest(F.length(s1), F.length(s2))
        return F.when(maxlen == 0, F.lit(1.0)).otherwise(
            F.lit(1.0)
            - F.levenshtein(s1, s2).cast("double")
            / maxlen.cast("double")
        )
    if name == "geodist":
        # HaversineConstFunction (ValueSourceParser "geodist"): distance
        # in km from a constant point to the doc's lat/lon fields.
        # Signature geodist(latfield, lonfield, lat, lon).
        need(4)
        from .spatial import haversine_km

        if raw_args[0][0] != "field" or raw_args[1][0] != "field":
            raise FuncParseError("geodist takes (latfield, lonfield, lat, lon)")
        return haversine_km(
            _compile(raw_args[2], ctx),
            _compile(raw_args[3], ctx),
            F.col(raw_args[0][1]).cast("double"),
            F.col(raw_args[1][1]).cast("double"),
        )
    if name in ("maxdoc", "numdocs"):
        # MaxDocValueSource / NumDocsValueSource — numdocs would
        # subtract deletions, but a static Searcher index carries no
        # tombstones (the streaming store compacts them away), so the
        # two coincide here.
        if ctx.searcher is None:
            raise FuncParseError(f"{name}() needs a searcher context")
        if raw_args:
            raise FuncParseError(f"{name} takes no args")
        return F.lit(float(ctx.searcher.index.stats.max_doc))
    if name in ("ord", "rord"):
        # OrdFieldSource / ReverseOrdFieldSource (ValueSourceParser
        # "ord"/"rord", lucene/queries/.../valuesource/OrdFieldSource
        # .java:81 + ReverseOrdFieldSource.java:77-83): the 1-based
        # ordinal of the doc's value in the sorted term index, 0 for
        # missing; rord = numOrd - ord with numOrd = #terms + 1 (slot 0
        # is the missing sentinel). Spark shape: dense_rank over the
        # DISTINCT value frame (the FieldCache terms-index analogue —
        # like Lucene's, meant for low-cardinality fields), joined back
        # as an attachment. Binary/codepoint string order, like term
        # sort order on ASCII data.
        need(1)
        if raw_args[0][0] != "field":
            raise FuncParseError(f"{name} takes a field name")
        if ctx.docs is None:
            raise FuncParseError(
                f"{name}(...) needs a docs context (use compile_func)"
            )
        from pyspark.sql import Window

        fld = raw_args[0][1]
        alias = ctx.next_alias()
        vals = (
            ctx.docs.select(F.col(fld).alias("__v"))
            .where(F.col("__v").isNotNull())
            .distinct()
        )
        ranked = vals.select(
            "__v",
            F.dense_rank().over(Window.orderBy("__v")).alias(alias),
        )
        frame = (
            ctx.docs.select("doc_id", F.col(fld).alias("__v"))
            .join(ranked, "__v", "left")
            .select("doc_id", alias)
        )
        ctx.attachments.append((alias, frame))
        ordc = F.coalesce(F.col(alias).cast("double"), F.lit(0.0))
        if name == "ord":
            return ordc
        n_terms = vals.count()  # compile-time literal, like scale()
        return F.lit(float(n_terms + 1)) - ordc
    if name == "boost":
        # "boost" (ValueSourceParser.java:278-286): BoostedQuery score
        # = embedded query's relevance score * the value source, 0 for
        # non-matching docs (QueryValueSource defVal=0).
        need(2)
        if raw_args[0][0] != "str":
            raise FuncParseError("boost takes (quoted query, func)")
        if ctx.searcher is None:
            raise FuncParseError(
                "boost(...) needs a searcher context (use compile_func)"
            )
        from .qparser import parse_lucene

        alias = ctx.next_alias()
        scored = (
            ctx.searcher.score(parse_lucene(raw_args[0][1]))
            .groupBy("doc_id")
            .agg(F.sum("score").alias(alias))
        )
        ctx.attachments.append((alias, scored))
        return F.coalesce(
            F.col(alias).cast("double"), F.lit(0.0)
        ) * _compile(raw_args[1], ctx)
    if name in ("sqedist", "dist"):
        # SquaredEuclideanFunction / VectorDistanceFunction
        # (ValueSourceParser.java:542-560): two points given either as
        # two vector(...) args or an even flat list split in half
        # (getMultiValueSources). dist's first arg is the Minkowski
        # power: 0 = sparseness (count of differing dims), 1 =
        # manhattan, 2 = euclidean, else (sum |a-b|^p)^(1/p)
        # (spatial4j DistanceUtils.vectorDistance).
        nodes = raw_args
        power = 2.0
        if name == "dist":
            if not nodes or nodes[0][0] != "num":
                raise FuncParseError("dist takes (power, sources...)")
            power = nodes[0][1]
            nodes = nodes[1:]
        if (
            len(nodes) == 2
            and all(n[0] == "call" and n[1] == "vector" for n in nodes)
        ):
            v1, v2 = nodes[0][2], nodes[1][2]
        else:
            if len(nodes) % 2 or not nodes:
                raise FuncParseError(
                    f"{name} needs an even number of sources"
                )
            v1, v2 = nodes[: len(nodes) // 2], nodes[len(nodes) // 2 :]
        if len(v1) != len(v2):
            raise FuncParseError("point dimensions differ")
        pairs = [
            (_compile(a, ctx), _compile(b, ctx)) for a, b in zip(v1, v2)
        ]
        if name == "sqedist":
            total = None
            for a, b in pairs:
                d = (a - b) * (a - b)
                total = d if total is None else total + d
            return total
        if power == 0.0:  # sparseness: # of differing dimensions
            total = None
            for a, b in pairs:
                d = (a != b).cast("double")
                total = d if total is None else total + d
            return total
        total = None
        for a, b in pairs:
            if power == 1.0:
                d = F.abs(a - b)
            elif power == 2.0:  # TWO_NORM: x*x, not pow(|x|,2)
                d = (a - b) * (a - b)
            else:
                d = F.pow(F.abs(a - b), F.lit(power))
            total = d if total is None else total + d
        if power == 1.0:
            return total
        return (
            F.sqrt(total)
            if power == 2.0
            else F.pow(total, F.lit(1.0 / power))
        )
    if name == "hsin":
        # HaversineFunction ("hsin", ValueSourceParser.java:298-337):
        # hsin(radius, convertToRads, y1, x1, y2, x2) — per the
        # reference's point unpacking (HaversineFunction.java:81-92:
        # point[0] is y/lat), with vector(y,x) pairs also accepted.
        if len(raw_args) < 4:
            raise FuncParseError(
                "hsin takes (radius, convert, y1, x1, y2, x2)"
            )
        if raw_args[0][0] != "num":
            raise FuncParseError("hsin radius must be a constant")
        radius = raw_args[0][1]
        conv_node = raw_args[1]
        if conv_node[0] in ("field", "str") and conv_node[1] in (
            "true",
            "false",
        ):
            convert = conv_node[1] == "true"
        else:
            raise FuncParseError("hsin convert flag must be true/false")
        pts = raw_args[2:]
        if len(pts) == 2 and all(
            n[0] == "call" and n[1] == "vector" and len(n[2]) == 2
            for n in pts
        ):
            coords = pts[0][2] + pts[1][2]
        elif len(pts) == 4:
            coords = pts
        else:
            raise FuncParseError("hsin takes 4 coords or 2 vector()s")
        from .spatial import haversine_units

        y1, x1, y2, x2 = (_compile(c, ctx) for c in coords)
        return haversine_units(y1, x1, y2, x2, radius, convert)
    if name == "geohash":
        # GeohashFunction (ValueSourceParser.java:351-360): the
        # precision-12 geohash string of (lat, lon). String-valued.
        need(2)
        from .spatial import geohash_encode

        return geohash_encode(
            _compile(raw_args[0], ctx), _compile(raw_args[1], ctx)
        )
    if name == "ghhsin":
        # GeohashHaversineFunction (ValueSourceParser.java:339-349):
        # haversine distance between two geohash cell CENTERS on a
        # sphere of the given radius; Double.MAX_VALUE when either
        # hash is null (GeohashHaversineFunction.java distance()).
        need(3)
        if raw_args[0][0] != "num":
            raise FuncParseError("ghhsin radius must be a constant")
        radius = raw_args[0][1]
        from .spatial import (
            geohash_cell_center,
            geohash_decode,
            geohash_decode_py,
            haversine_units,
        )

        def _gh_point(a) -> tuple[Column, Column]:
            # geohash() args short-circuit to the closed-form cell
            # center (decode(encode(p)) would blow the expression tree
            # up 60x); literal strings decode at compile time (the
            # caching GeohashHaversineFunction.java's TODO asks for);
            # only real string columns pay the bit-extract decode.
            if a[0] == "call" and a[1] == "geohash":
                if len(a[2]) != 2:
                    raise FuncParseError("geohash takes (lat, lon)")
                return geohash_cell_center(
                    _compile(a[2][0], ctx), _compile(a[2][1], ctx)
                )
            if a[0] == "str" or (a[0] == "call" and a[1] == "literal"):
                text = a[1] if a[0] == "str" else a[2][0][1]
                lat, lon = geohash_decode_py(text)
                return F.lit(lat), F.lit(lon)
            if a[0] == "field":
                return geohash_decode(F.col(a[1]).cast("string"))
            raise FuncParseError(
                "ghhsin takes geohash strings/fields/geohash()"
            )

        y1, x1 = _gh_point(raw_args[1])
        y2, x2 = _gh_point(raw_args[2])
        d = haversine_units(y1, x1, y2, x2, radius, convert_degrees=True)
        return F.when(
            y1.isNull() | y2.isNull(), F.lit(1.7976931348623157e308)
        ).otherwise(d)
    if name == "joindf":
        # JoinDocFreqValueSource (ValueSourceParser.java:287-294 +
        # lucene/queries/.../valuesource/JoinDocFreqValueSource.java:
        # 69-82): per doc, the docFreq in qfield of the TERM this doc
        # stores in `field`; 0 when the term is absent. One dim-join
        # of the doc frame onto the terms_stats table (broadcast-able
        # at scale). qfield accepted for parity (single text field).
        need(2)
        if raw_args[0][0] != "field":
            raise FuncParseError("joindf takes (field, qfield)")
        if ctx.searcher is None or ctx.docs is None:
            raise FuncParseError(
                "joindf(...) needs searcher + docs contexts"
            )
        fld = raw_args[0][1]
        alias = ctx.next_alias()
        frame = (
            ctx.docs.select(
                "doc_id", F.col(fld).cast("string").alias("__t")
            )
            .join(
                ctx.searcher.index.terms_stats.select(
                    F.col("term").alias("__t"), "df"
                ),
                "__t",
                "left",
            )
            .select("doc_id", F.col("df").cast("double").alias(alias))
        )
        ctx.attachments.append((alias, frame))
        return F.coalesce(F.col(alias), F.lit(0.0))
    if name == "literal":
        # LiteralValueSource (ValueSourceParser.java:102-107): a
        # constant STRING source (composes with strdist/ghhsin).
        need(1)
        if raw_args[0][0] != "str":
            raise FuncParseError("literal takes a quoted string")
        return F.lit(raw_args[0][1])
    if name == "top":
        # "top" is a no-op passthrough (ValueSourceParser.java:134-141)
        need(1)
        return _compile(raw_args[0], ctx)
    if name == "vector":
        raise FuncParseError(
            "vector(...) is only valid inside dist/sqedist/hsin"
        )
    if name in ("pi", "e"):
        # DoubleConstValueSource registrations
        if raw_args:
            raise FuncParseError(f"{name} takes no args")
        import math

        return F.lit(math.pi if name == "pi" else math.e)
    if name in ("true", "false"):
        # BoolConstValueSource — 1.0/0.0 so they compose with if()
        if raw_args:
            raise FuncParseError(f"{name} takes no args")
        return F.lit(1.0 if name == "true" else 0.0)

    if name == "exists":
        # ExistsValueSource / exists(field): true iff the doc has a
        # value — emitted as 1.0/0.0 so it composes with if() and math
        need(1)
        if raw_args[0][0] == "field":
            return (
                F.col(raw_args[0][1]).isNotNull().cast("double")
            )
        return F.lit(1.0)  # constants/functions always exist

    args = [_compile(a, ctx) for a in raw_args]
    _truth = lambda c: F.coalesce(c, F.lit(0.0)) != F.lit(0.0)  # noqa: E731
    if name == "not":  # BoolFunction family (SimpleBoolFunction)
        need(1)
        return (~_truth(args[0])).cast("double")
    if name == "and":
        need(2)
        return (_truth(args[0]) & _truth(args[1])).cast("double")
    if name == "or":
        need(2)
        return (_truth(args[0]) | _truth(args[1])).cast("double")
    if name == "xor":
        need(2)
        return (_truth(args[0]) != _truth(args[1])).cast("double")
    if name == "map":
        # RangeMapFloatFunction: min<=x<=max -> target, else def or x
        if len(raw_args) not in (4, 5):
            raise FuncParseError("map takes 4 or 5 args")
        x, lo, hi, target = args[:4]
        fallback = args[4] if len(args) == 5 else x
        return F.when((x >= lo) & (x <= hi), target).otherwise(fallback)
    if name == "sub":
        need(2)
        return args[0] - args[1]
    if name == "mod":
        need(2)
        return args[0] % args[1]
    if name == "max":  # MaxFloatFunction (variadic)
        if not args:
            raise FuncParseError("max needs args")
        return args[0] if len(args) == 1 else F.greatest(*args)
    if name == "min":  # MinFloatFunction (variadic)
        if not args:
            raise FuncParseError("min needs args")
        return args[0] if len(args) == 1 else F.least(*args)
    _MATH1 = {
        "ln": F.log,  # natural log (Math.log)
        "exp": F.exp,
        "sin": F.sin,
        "cos": F.cos,
        "tan": F.tan,
        "asin": F.asin,
        "acos": F.acos,
        "atan": F.atan,
        "sinh": F.sinh,
        "cosh": F.cosh,
        "tanh": F.tanh,
        "cbrt": F.cbrt,
        "rad": F.radians,
        "deg": F.degrees,
        "floor": lambda c: F.floor(c).cast("double"),
        "ceil": lambda c: F.ceil(c).cast("double"),
        "rint": lambda c: F.rint(c),
    }
    if name in _MATH1:  # DoubleValueSource math registry
        need(1)
        return _MATH1[name](args[0])
    if name == "atan2":
        need(2)
        return F.atan2(args[0], args[1])
    if name == "hypot":
        need(2)
        return F.hypot(args[0], args[1])
    if name == "recip":  # ReciprocalFloatFunction: a/(m*x+b)
        need(4)
        x, m, a, b = args
        return a / (m * x + b)
    if name == "linear":  # LinearFloatFunction: m*x+c
        need(3)
        x, m, c = args
        return m * x + c
    if name == "if":  # IfFunction: numeric cond false iff 0/NULL
        need(3)
        return F.when(
            F.coalesce(args[0], F.lit(0.0)) != F.lit(0.0), args[1]
        ).otherwise(args[2])
    if name == "div":
        need(2)
        return args[0] / args[1]
    if name == "sum":
        col = args[0]
        for a in args[1:]:
            col = col + a
        return col
    if name == "product":
        col = args[0]
        for a in args[1:]:
            col = col * a
        return col
    if name == "log":  # base-10 (LogFloatFunction)
        need(1)
        return F.log10(args[0])
    if name == "sqrt":
        need(1)
        return F.sqrt(args[0])
    if name == "abs":
        need(1)
        return F.abs(args[0])
    if name == "pow":
        need(2)
        return F.pow(args[0], args[1])
    raise FuncParseError(f"unknown function {name!r}")


def parse_func(expr: str, now=None) -> Column:
    """Parse a context-free ValueSource expression into a Catalyst
    Column. All arithmetic is double-precision (matching FloatFunction-
    via-double gate semantics and the SQL oracle twins). Expressions
    using query()/scale() need ``compile_func``."""
    ctx = _Ctx(now=now)
    return _compile(parse_ast(expr), ctx)


def compile_func(
    expr: str,
    searcher=None,
    docs: DataFrame | None = None,
    now=None,
) -> tuple[Column, list[tuple[str, DataFrame]]]:
    """Full-context compile: returns (column, attachments) where each
    attachment is (alias, DataFrame(doc_id, alias)) the caller must
    left-join onto the doc frame before evaluating the column — the
    query() score frames. scale() resolves its min/max against
    ``docs`` at compile time (two literals, one tiny agg)."""
    ctx = _Ctx(now=now, searcher=searcher, docs=docs)
    col = _compile(parse_ast(expr), ctx)
    return col, ctx.attachments
