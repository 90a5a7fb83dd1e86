"""RDF sources and sinks for the canonical triples DataFrame.

Reference operator S1 parses one of the RDF serializations picked by file
extension into the in-memory model (Main.java:23-43,
nonsparql/NospaValidator.java:41-48); S2 serializes the model back
(NospaValidator.java:56-67). Spark-first mapping (SURVEY.md §2.1):

- **N-Triples** is line-oriented, so it is the *distributed* path:
  ``spark.read.text`` + an Arrow-vectorized pandas UDF regex parser. This
  is the format to use at 100 TB — it splits by line across executors.
  The read is eager: the parsed, deduped triples are materialized
  (localCheckpoint) once, so no later scan parses a line again and a
  malformed line fails ``read_ntriples`` / ``read_rdf`` itself.
- **RDF/XML directories** (``read_rdfxml_dir``) are parsed one document
  per task and read eagerly the same way.
- **Turtle** (the golden fixture's format) is parsed on the driver by a
  small subset parser (prefixes, ';'/',' lists, '[]' bnodes, typed/lang
  literals, numbers, booleans, 'a'); fine for schema-scale files, not for
  bulk data. There is no rdflib in this environment, so the parser is
  self-contained.
- Sinks: parquet (the at-rest layout, pred-partitionable) and N-Triples
  text (interchange).
"""

from __future__ import annotations

import os
import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import qb, terms
from ..session import local_frame

# --------------------------------------------------------------------------
# N-Triples: distributed parse
# --------------------------------------------------------------------------
_NT_LINE = re.compile(
    r"^\s*"
    r"(?:<(?P<s_iri>[^>]*)>|(?P<s_bn>_:\S+))\s+"
    r"<(?P<p>[^>]*)>\s+"
    r"(?:<(?P<o_iri>[^>]*)>"
    r"|(?P<o_bn>_:\S+)"
    r'|"(?P<o_lit>(?:[^"\\]|\\.)*)"'
    r"(?:\^\^<(?P<o_dt>[^>]*)>|@(?P<o_lang>[A-Za-z0-9-]+))?"
    r")\s*\.\s*$"
)

_UNESC = {
    "\\n": "\n",
    "\\r": "\r",
    "\\t": "\t",
    '\\"': '"',
    "\\\\": "\\",
}
_ESC_RE = re.compile(r'\\(?:[ntr"\\]|u[0-9A-Fa-f]{4}|U[0-9A-Fa-f]{8})')


def _unescape(s: str) -> str:
    def sub(m: re.Match) -> str:
        tok = m.group(0)
        if tok in _UNESC:
            return _UNESC[tok]
        return chr(int(tok[2:], 16))

    return _ESC_RE.sub(sub, s)


def _parse_nt_batch(lines: pd.Series, on_malformed: str = "raise") -> pd.DataFrame:
    out = {c: [] for c in terms.TRIPLE_COLS}
    for line in lines:
        if not line or line.lstrip().startswith("#"):
            continue
        m = _NT_LINE.match(line)
        if not m:
            # Jena (the reference's parser, Main.java:23-43) fails loudly on
            # malformed input; silently dropping lines would mask data loss.
            if on_malformed == "raise":
                raise ValueError(f"malformed N-Triples line: {line[:200]!r}")
            continue
        g = m.groupdict()
        subj = g["s_iri"] if g["s_iri"] is not None else g["s_bn"]
        pred = g["p"]
        if g["o_iri"] is not None:
            obj, kind, dt, lang = g["o_iri"], terms.KIND_IRI, None, None
        elif g["o_bn"] is not None:
            obj, kind, dt, lang = g["o_bn"], terms.KIND_BNODE, None, None
        else:
            lex = _unescape(g["o_lit"])
            dt, lang = g["o_dt"], g["o_lang"]
            obj, kind = terms.encode_literal(lex, dt or "", lang or ""), terms.KIND_LITERAL
        out["subj"].append(subj)
        out["pred"].append(pred)
        out["obj"].append(obj)
        out["obj_kind"].append(kind)
        out["obj_datatype"].append(dt)
        out["obj_lang"].append(lang)
    return pd.DataFrame(out)


def read_ntriples(spark: SparkSession, path: str, on_malformed: str = "raise") -> DataFrame:
    """Distributed N-Triples reader: text lines -> triples DF (dedup'd),
    materialized before it returns.

    Every line goes through the Arrow parser once per call: the deduped
    triples are localCheckpointed eagerly, as the reference parses the file
    once into its in-memory model (NospaValidator.java:41-48). A lazy frame
    would re-run the Python parse under every scan of it — normalize's N1
    branches, its schema-slice collect and its phase-1 checkpoint each
    pushed their ``pred`` filter below the dedup and parsed the file anew.

    on_malformed: 'raise' (default — Jena parity: this call fails with the
    offending line in the error, before any frame is returned) or 'drop'
    (permissive mode for scrubbing known-dirty dumps; rejected lines are
    dropped)."""
    if on_malformed not in ("raise", "drop"):
        raise ValueError(f"on_malformed must be 'raise' or 'drop', got {on_malformed!r}")
    raw = spark.read.text(path)

    def gen(batches):
        for pdf in batches:
            yield _parse_nt_batch(pdf["value"], on_malformed)

    parsed = raw.mapInPandas(gen, schema=terms.TRIPLES_SCHEMA)
    return parsed.dropDuplicates(["subj", "pred", "obj"]).localCheckpoint(eager=True)


# --------------------------------------------------------------------------
# Turtle subset: driver-side parse (schema-scale files)
# --------------------------------------------------------------------------
_TTL_TOKEN = re.compile(
    r"""
      (?P<comment>\#[^\n]*)
    | (?P<prefix_decl>@prefix|@base|PREFIX|BASE)
    | (?P<langtag>@[A-Za-z][A-Za-z0-9-]*)
    | (?P<iri><[^>]*>)
    | (?P<long_literal>"{3}(?:[^"\\]|\\.|"(?!""))*"{3}(?:\^\^(?:<[^>]*>|[A-Za-z][\w.-]*:[\w.-]*)|@[A-Za-z0-9-]+)?)
    | (?P<literal>"(?:[^"\\]|\\.)*"(?:\^\^(?:<[^>]*>|[A-Za-z][\w.-]*:[\w.-]*)|@[A-Za-z0-9-]+)?)
    | (?P<bnode>_:[\w.-]+)
    | (?P<dtmark>\^\^)
    | (?P<punct>[;,.\[\]()])
    | (?P<kw_a>\ba\b)
    | (?P<boolean>\btrue\b|\bfalse\b)
    | (?P<number>[+-]?\d+\.\d+(?:[eE][+-]?\d+)?|[+-]?\d+[eE][+-]?\d+|[+-]?\d+)
    | (?P<pname>[A-Za-z][\w.-]*)?:(?:[\w.%-]|\\.)*
    """,
    re.VERBOSE,
)


class _TurtleParser:
    """Subset Turtle parser sufficient for W3C-example-class cubes
    (everything in /root/reference/test.ttl): prefixed names, object and
    predicate lists, anonymous bnodes, collections ``( ... )`` (expanded to
    rdf:first/rdf:rest lists), typed/lang literals incl. triple-quoted long
    strings, numerics and booleans. Not a full spec implementation — bulk
    data belongs in N-Triples/parquet anyway."""

    def __init__(self, text: str):
        self.tokens = self._tokenize(text)
        self.pos = 0
        self.prefixes: dict[str, str] = {}
        self.rows: list[tuple] = []
        self._bnode_n = 0

    @staticmethod
    def _tokenize(text: str) -> list[str]:
        """Tokenize with FULL coverage: any non-whitespace the token grammar
        does not recognize raises instead of being silently skipped (the
        reference's Jena fails loudly on syntax it can't parse,
        Main.java:30-33). N3-only constructs (formulas ``{ }``, rules
        ``=>``/``<=``, equality ``=``, quantifiers ``@forAll/@forSome``,
        paths ``!``/``^``) get a specific message: this reader implements
        the Turtle-compatible subset of N3 only."""
        toks = []
        last = 0
        for m in _TTL_TOKEN.finditer(text):
            gap = text[last : m.start()].strip()
            if gap:
                raise _TurtleParser._unsupported(gap)
            last = m.end()
            if m.lastgroup == "comment":
                continue
            toks.append(m.group(0))
        tail = text[last:].strip()
        if tail:
            raise _TurtleParser._unsupported(tail)
        return toks

    _N3_ONLY = ("{", "}", "=>", "<=", "=", "@forAll", "@forSome", "!", "^")

    @staticmethod
    def _unsupported(snippet: str) -> ValueError:
        head = snippet.split()[0][:40]
        if any(head.startswith(t) for t in _TurtleParser._N3_ONLY):
            return ValueError(
                f"N3-only syntax {head!r}: this reader implements the "
                "Turtle-compatible subset of N3 (no formulas, rules, "
                "quantifiers or property paths) — convert to Turtle or "
                "N-Triples first"
            )
        return ValueError(f"unsupported Turtle syntax at {head!r}")

    def _peek(self):
        return self.tokens[self.pos] if self.pos < len(self.tokens) else None

    def _next(self):
        tok = self._peek()
        self.pos += 1
        return tok

    def _fresh_bnode(self) -> str:
        self._bnode_n += 1
        return f"_:anon{self._bnode_n}"

    def _expand(self, tok: str) -> str:
        if tok.startswith("<"):
            return tok[1:-1]
        pfx, _, local = tok.partition(":")
        base = self.prefixes.get(pfx)
        if base is None:
            raise ValueError(f"unknown prefix in {tok!r}")
        return base + local

    def parse(self) -> list[tuple]:
        while (tok := self._peek()) is not None:
            if tok in ("@prefix", "PREFIX"):
                self._next()
                pname = self._next()
                iri = self._next()
                self.prefixes[pname.rstrip(":").split(":")[0]] = iri[1:-1]
                if tok == "@prefix":
                    assert self._next() == "."
            elif tok in ("@base", "BASE"):
                self._next()
                self._next()
                if tok == "@base":
                    assert self._next() == "."
            else:
                subj = self._parse_node_as_subject()
                self._parse_predicate_object_list(subj)
                assert self._next() == ".", "statement must end with '.'"
        return self.rows

    def _parse_node_as_subject(self) -> str:
        tok = self._next()
        if tok == "[":
            subj = self._fresh_bnode()
            if self._peek() != "]":
                self._parse_predicate_object_list(subj)
            assert self._next() == "]"
            return subj
        if tok == "(":
            node, _ = self._parse_collection()
            return node
        if tok.startswith("_:") or tok.startswith("<") or ":" in tok:
            return tok if tok.startswith("_:") else self._expand(tok)
        if tok.startswith("@"):
            # @forAll/@forSome keep their specific N3-only diagnostic
            raise self._unsupported(tok)
        raise ValueError(f"unexpected subject token {tok!r}")

    def _parse_collection(self) -> tuple[str, bool]:
        """After '(' is consumed: parse items until ')' and emit the
        rdf:first/rdf:rest chain. Returns (head node, is_bnode) — the empty
        collection is the rdf:nil IRI."""
        first = qb.PREFIX_RDF + "first"
        rest = qb.PREFIX_RDF + "rest"
        nil = qb.PREFIX_RDF + "nil"
        cells: list[str] = []
        while self._peek() != ")":
            if self._peek() is None:
                raise ValueError("unterminated collection: missing ')'")
            cell = self._fresh_bnode()
            cells.append(cell)
            self._parse_object(cell, first)
        self._next()  # consume ')'
        if not cells:
            return nil, False
        for i, cell in enumerate(cells):
            if i + 1 < len(cells):
                self.rows.append(terms.bnode_row(cell, rest, cells[i + 1]))
            else:
                self.rows.append(terms.iri_row(cell, rest, nil))
        return cells[0], True

    def _parse_predicate_object_list(self, subj: str) -> None:
        while True:
            ptok = self._next()
            if ptok == "a":
                pred = qb.RDF_TYPE
            else:
                pred = self._expand(ptok)
            self._parse_object_list(subj, pred)
            nxt = self._peek()
            if nxt == ";":
                self._next()
                # tolerate trailing ';' before '.' or ']'
                if self._peek() in (".", "]", None):
                    return
                continue
            return

    def _parse_object_list(self, subj: str, pred: str) -> None:
        while True:
            self._parse_object(subj, pred)
            if self._peek() == ",":
                self._next()
                continue
            return

    _LANGTAG_RE = re.compile(r"@[A-Za-z][A-Za-z0-9-]*$")

    def _literal_suffix(self, dt: str | None, lang: str | None) -> tuple[str | None, str | None]:
        """Turtle allows whitespace between a String and its '^^' datatype
        marker or LANGTAG (separate terminals in the W3C grammar); the
        token regex only fuses ADJACENT suffixes, so a standalone '^^' or
        '@lang' token after the literal carries them instead."""
        nxt = self._peek()
        if nxt == "^^":
            if dt or lang:
                raise ValueError("literal cannot carry both a datatype and a language tag")
            self._next()
            t = self._next()
            if t is None or t.startswith("_:") or not (t.startswith("<") or ":" in t):
                raise ValueError(f"expected datatype IRI after '^^', got {t!r}")
            return (t[1:-1] if t.startswith("<") else self._expand(t)), lang
        # the '@prefix'/'@base' directive keywords also match the LANGTAG
        # shape; consuming one here (possible only in MALFORMED Turtle
        # missing the statement's '.') would turn a clear missing-'.'
        # diagnostic into a misleading later parse error (r5 ADVICE)
        if (
            nxt is not None
            and nxt not in ("@prefix", "@base")
            and self._LANGTAG_RE.fullmatch(nxt)
        ):
            if dt or lang:
                raise ValueError("literal cannot carry both a datatype and a language tag")
            self._next()
            return dt, nxt[1:]
        return dt, lang

    def _parse_object(self, subj: str, pred: str) -> None:
        tok = self._next()
        if tok == "[":
            node = self._fresh_bnode()
            self.rows.append(terms.bnode_row(subj, pred, node))
            if self._peek() != "]":
                self._parse_predicate_object_list(node)
            assert self._next() == "]"
            return
        if tok == "(":
            node, is_bnode = self._parse_collection()
            self.rows.append(
                terms.bnode_row(subj, pred, node)
                if is_bnode
                else terms.iri_row(subj, pred, node)
            )
            return
        if tok.startswith("_:"):
            self.rows.append(terms.bnode_row(subj, pred, tok))
            return
        if tok.startswith('"""'):
            m = re.match(
                r'^"""(?P<lex>(?:[^"\\]|\\.|"(?!""))*)"""'
                r"(?:\^\^(?P<dt><[^>]*>|[A-Za-z][\w.-]*:[\w.-]*)|@(?P<lang>[A-Za-z0-9-]+))?$",
                tok,
                re.DOTALL,
            )
            lex = _unescape(m.group("lex"))
            dt = m.group("dt")
            if dt:
                dt = dt[1:-1] if dt.startswith("<") else self._expand(dt)
            dt, lang = self._literal_suffix(dt, m.group("lang"))
            self.rows.append(terms.lit_row(subj, pred, lex, dt or "", lang or ""))
            return
        if tok.startswith('"'):
            m = re.match(
                r'^"(?P<lex>(?:[^"\\]|\\.)*)"(?:\^\^(?P<dt><[^>]*>|[A-Za-z][\w.-]*:[\w.-]*)|@(?P<lang>[A-Za-z0-9-]+))?$',
                tok,
            )
            lex = _unescape(m.group("lex"))
            dt = m.group("dt")
            if dt:
                dt = dt[1:-1] if dt.startswith("<") else self._expand(dt)
            dt, lang = self._literal_suffix(dt, m.group("lang"))
            self.rows.append(terms.lit_row(subj, pred, lex, dt or "", lang or ""))
            return
        if tok in ("true", "false"):
            self.rows.append(terms.lit_row(subj, pred, tok, qb.XSD_BOOLEAN))
            return
        if re.match(r"^[+-]?\d+$", tok):
            self.rows.append(terms.lit_row(subj, pred, tok, qb.PREFIX_XSD + "integer"))
            return
        if re.match(r"^[+-]?\d+\.\d+$", tok):
            self.rows.append(terms.lit_row(subj, pred, tok, qb.XSD_DECIMAL))
            return
        if re.match(r"^[+-]?(\d+\.?\d*|\.\d+)[eE][+-]?\d+$", tok):
            self.rows.append(terms.lit_row(subj, pred, tok, qb.PREFIX_XSD + "double"))
            return
        self.rows.append(terms.iri_row(subj, pred, self._expand(tok)))


def read_turtle(spark: SparkSession, path: str) -> DataFrame:
    with open(path, encoding="utf-8") as fh:
        rows = _TurtleParser(fh.read()).parse()
    return terms.triples_df(spark, rows)


# --------------------------------------------------------------------------
# RDF/XML subset: driver-side parse (the reference's DEFAULT format for
# .xml/.rdf inputs, Main.java:24-25). Schema-scale like the Turtle path.
# --------------------------------------------------------------------------
_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_XML_NS = "http://www.w3.org/XML/1998/namespace"


class _RdfXmlParser:
    """RDF/XML parser over ElementTree: rdf:Description and typed node
    elements, rdf:about/rdf:ID/rdf:nodeID, property elements with
    rdf:resource / rdf:nodeID / rdf:datatype / inherited xml:lang /
    parseType="Resource"/"Collection"/"Literal", nested node elements,
    property attributes, and containers (rdf:li expands to rdf:_n with a
    per-node-element counter, Jena-style; explicit rdf:_n passes through).
    parseType="Literal" keeps the inner XML as an rdf:XMLLiteral lexical
    form via ElementTree serialization (no exclusive-c14n pass — byte
    parity with Jena's canonicalized XMLLiterals is not claimed). Unknown
    parseType values FAIL LOUDLY (ValueError) rather than silently
    emitting bogus triples, matching on_malformed='raise'."""

    def __init__(self, base: str = "", bnode_tag: str = ""):
        self.base = base
        self.rows: list[tuple] = []
        self._bnode_n = 0
        # disambiguates parser-GENERATED anonymous labels across documents
        # (explicit rdf:nodeID labels are global by definition and must
        # still merge across part files, so they are never tagged)
        self._bnode_tag = bnode_tag

    def _fresh_bnode(self) -> str:
        self._bnode_n += 1
        return f"_:x{self._bnode_tag}{self._bnode_n}"

    @staticmethod
    def _expand(tag: str) -> str:
        if tag.startswith("{"):
            ns, _, local = tag[1:].partition("}")
            return ns + local
        return tag

    def parse(self, text: str) -> list[tuple]:
        import xml.etree.ElementTree as ET

        root = ET.fromstring(text)
        if self._expand(root.tag) == _RDF_NS + "RDF":
            nodes = list(root)
        else:
            nodes = [root]  # a single node element without the rdf:RDF wrapper
        for el in nodes:
            self._node(el, inherited_lang=root.get(f"{{{_XML_NS}}}lang", ""))
        return self.rows

    def _subject_of(self, el) -> str:
        about = el.get(f"{{{_RDF_NS}}}about")
        if about is not None:
            return about
        rid = el.get(f"{{{_RDF_NS}}}ID")
        if rid is not None:
            return f"{self.base}#{rid}"
        node_id = el.get(f"{{{_RDF_NS}}}nodeID")
        if node_id is not None:
            return f"_:{node_id}"
        return self._fresh_bnode()

    def _node(self, el, inherited_lang: str) -> str:
        subj = self._subject_of(el)
        lang = el.get(f"{{{_XML_NS}}}lang", inherited_lang)
        tag = self._expand(el.tag)
        if tag != _RDF_NS + "Description":
            self.rows.append(terms.iri_row(subj, qb.RDF_TYPE, tag))
        # property attributes (non-rdf, non-xml attrs on the node element)
        for k, v in el.attrib.items():
            k = self._expand(k)
            if k.startswith(_RDF_NS) or k.startswith(_XML_NS):
                continue
            self.rows.append(terms.lit_row(subj, k, v, "", lang))
        li_counter = [0]  # rdf:li numbering restarts per node element
        for prop in el:
            self._property(subj, prop, lang, li_counter)
        return subj

    def _property(self, subj: str, prop, lang: str, li_counter: list | None = None) -> None:
        pred = self._expand(prop.tag)
        if pred == _RDF_NS + "li":
            # container membership: each rdf:li becomes rdf:_n in document
            # order within its node element (Jena's li counter semantics)
            if li_counter is None:
                li_counter = [0]
            li_counter[0] += 1
            pred = f"{_RDF_NS}_{li_counter[0]}"
        lang = prop.get(f"{{{_XML_NS}}}lang", lang)
        res = prop.get(f"{{{_RDF_NS}}}resource")
        if res is not None:
            self.rows.append(terms.iri_row(subj, pred, res))
            return
        node_id = prop.get(f"{{{_RDF_NS}}}nodeID")
        if node_id is not None:
            self.rows.append(terms.bnode_row(subj, pred, f"_:{node_id}"))
            return
        parse_type = prop.get(f"{{{_RDF_NS}}}parseType")
        if parse_type == "Resource":
            inner = self._fresh_bnode()
            self.rows.append(terms.bnode_row(subj, pred, inner))
            # one shared counter across the implied node's properties, so
            # sibling rdf:li under parseType=Resource number _1, _2, ...
            # (same per-node-element counter semantics as _node)
            inner_li = [0]
            for sub in prop:
                self._property(inner, sub, lang, inner_li)
            return
        if parse_type == "Collection":
            # children become an rdf:first/rdf:rest linked list
            items = [self._node(child, lang) for child in prop]
            if not items:
                self.rows.append(terms.iri_row(subj, pred, _RDF_NS + "nil"))
                return
            cells = [self._fresh_bnode() for _ in items]
            self.rows.append(terms.bnode_row(subj, pred, cells[0]))
            for i, (cell, item) in enumerate(zip(cells, items)):
                first = (
                    terms.bnode_row(cell, _RDF_NS + "first", item)
                    if item.startswith("_:")
                    else terms.iri_row(cell, _RDF_NS + "first", item)
                )
                self.rows.append(first)
                rest = cells[i + 1] if i + 1 < len(cells) else None
                self.rows.append(
                    terms.bnode_row(cell, _RDF_NS + "rest", rest)
                    if rest is not None
                    else terms.iri_row(cell, _RDF_NS + "rest", _RDF_NS + "nil")
                )
            return
        if parse_type == "Literal":
            import xml.etree.ElementTree as ET

            lex = (prop.text or "") + "".join(
                ET.tostring(child, encoding="unicode") for child in prop
            )
            self.rows.append(terms.lit_row(subj, pred, lex, _RDF_NS + "XMLLiteral"))
            return
        if parse_type is not None:
            raise ValueError(
                f"RDF/XML parseType={parse_type!r} on <{pred}> is not valid RDF/XML "
                "(expected Resource, Collection or Literal)"
            )
        children = list(prop)
        if children:  # nested node element(s)
            for child in children:
                obj = self._node(child, lang)
                row = (
                    terms.bnode_row(subj, pred, obj)
                    if obj.startswith("_:")
                    else terms.iri_row(subj, pred, obj)
                )
                self.rows.append(row)
            return
        dt = prop.get(f"{{{_RDF_NS}}}datatype")
        lex = prop.text or ""
        if dt is not None:
            self.rows.append(terms.lit_row(subj, pred, lex, dt))
        else:
            self.rows.append(terms.lit_row(subj, pred, lex, "", lang))


def read_rdfxml(spark: SparkSession, path: str, base: str = "") -> DataFrame:
    with open(path, encoding="utf-8") as fh:
        rows = _RdfXmlParser(base or f"file://{path}").parse(fh.read())
    return terms.triples_df(spark, rows)


def read_rdf(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    """Extension-dispatch reader (Main.java:23-43 equivalent; RDF/XML is the
    reference's default for unrecognized extensions, Main.java:24-25).

    .nt/.ntriples -> distributed N-Triples; .ttl/.n3 -> driver Turtle
    subset (.n3 means the TURTLE-COMPATIBLE subset of N3 — formulas,
    rules, quantifiers and paths raise a specific ValueError rather than
    parsing silently wrong); .xml/.rdf/.owl -> driver RDF/XML subset;
    .parquet -> canonical at-rest layout."""
    fmt = (fmt or path.rsplit(".", 1)[-1]).lower()
    if fmt in ("nt", "ntriple", "ntriples", "n-triple"):
        return read_ntriples(spark, path)
    if fmt in ("ttl", "turtle", "n3"):
        return read_turtle(spark, path)
    if fmt in ("xml", "rdf", "owl", "rdfxml", "rdf/xml"):
        return read_rdfxml(spark, path)
    if fmt == "parquet":
        return spark.read.parquet(path)
    raise NotImplementedError(f"RDF format {fmt!r} not supported (use nt/ttl/xml/parquet)")


# --------------------------------------------------------------------------
# Sinks (S2)
# --------------------------------------------------------------------------
def write_parquet(triples: DataFrame, path: str, mode: str = "overwrite") -> None:
    """At-rest layout: parquet. ``pred`` is the natural partition/cluster
    key (emulates Jena's POS index via partition pruning), but with dynamic
    predicates we keep it a plain sorted column so min/max row-group stats
    prune instead of creating unbounded directories."""
    triples.sortWithinPartitions("pred", "subj").write.mode(mode).parquet(path)


def write_bucketed(
    triples: DataFrame, table: str, buckets: int = 32, mode: str = "overwrite"
) -> None:
    """Pre-bucketed at-rest layout: a parquet table bucketed (and sorted) by
    ``subj``. Every per-observation plan — the IC-11/12 fused base's
    (subj, pred) aggregation, IC-13/14/15/16/17's per-obs stats, the
    obs-side of any subj-keyed join — requires clustering by subj, which
    HashPartitioning(subj) from the bucket spec already satisfies, so reads
    of this table skip the observation-scale shuffle entirely. On a real
    cluster this is the difference between scanning 100 TB once vs
    scanning + reshuffling it per validation run.

    Spark bucketing requires the table catalog (saveAsTable), not a bare
    path; read back with ``spark.table(table)``."""
    (
        triples.write.mode(mode)
        .format("parquet")
        .bucketBy(buckets, "subj")
        .sortBy("subj", "pred")
        .saveAsTable(table)
    )


_NCNAME_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_.\-]*$")


def _xml_escape(col: F.Column) -> F.Column:
    """XML-escape a string column for element text / attribute values
    (& first, then < > \"). CR becomes &#13;: XML line-end normalization
    would silently turn a raw \\r into \\n on re-read, but character
    references survive it (the same reason Jena's writer emits &#xD;).
    In attribute values \\n and \\t would also be normalized to spaces —
    reference them too (harmless in element text)."""
    col = F.regexp_replace(col, "&", "&amp;")
    col = F.regexp_replace(col, "<", "&lt;")
    col = F.regexp_replace(col, ">", "&gt;")
    col = F.regexp_replace(col, '"', "&quot;")
    col = F.regexp_replace(col, "\r", "&#13;")
    col = F.regexp_replace(col, "\n", "&#10;")
    return F.regexp_replace(col, "\t", "&#9;")


def write_rdfxml(triples: DataFrame, path: str, mode: str = "overwrite") -> None:
    """RDF/XML export — completes S2 parity (exportModel serializes to any
    Jena format incl. its DEFAULT RDF/XML, nonsparql/NospaValidator.java:
    56-67). Distributed like the Turtle sink: every part file is a
    self-contained document (header + one rdf:Description per triple +
    footer).

    Property elements need QNames, so each predicate splits at its last
    '#' or '/' into (namespace, NCName-local); the distinct-predicate set
    is collected on the DRIVER to build the xmlns table — predicates are
    vocabulary-scale (bounded even at 100 TB observations; Jena's writer
    keeps the same in-memory namespace table). A predicate with no valid
    NCName split FAILS LOUDLY (ValueError), matching Jena's
    "cannot split URI" error rather than emitting invalid XML."""
    preds = [r["p"] for r in triples.select(F.col("pred").alias("p")).distinct().collect()]
    ns_map: dict[str, str] = {_RDF_NS: "rdf"}
    qname: dict[str, str] = {}
    for p in sorted(preds):
        cut = max(p.rfind("#"), p.rfind("/")) + 1
        ns, local = p[:cut], p[cut:]
        if not ns or not _NCNAME_RE.match(local):
            raise ValueError(
                f"cannot split predicate {p!r} into namespace + NCName for RDF/XML "
                "(Jena parity: the reference's writer fails on such URIs too)"
            )
        if ns not in ns_map:
            ns_map[ns] = f"ns{len(ns_map)}"
        qname[p] = f"{ns_map[ns]}:{local}"
    spark = triples.sparkSession
    qn = F.broadcast(local_frame(spark, qname.items(), "pred string, qn string"))

    subj_attr = F.when(
        F.col("subj").startswith("_:"),
        F.concat(F.lit('rdf:nodeID="'), _xml_escape(F.expr("substring(subj, 3)")), F.lit('"')),
    ).otherwise(F.concat(F.lit('rdf:about="'), _xml_escape(F.col("subj")), F.lit('"')))
    lex = _xml_escape(
        F.expr(
            "substring(obj, length(concat('literal:', coalesce(obj_datatype,''), ':',"
            " coalesce(obj_lang,''), ':')) + 1)"
        )
    )
    prop_el = (
        F.when(
            terms.is_iri(),
            F.concat(F.lit("<"), F.col("qn"), F.lit(' rdf:resource="'), _xml_escape(F.col("obj")), F.lit('"/>')),
        )
        .when(
            terms.is_bnode(),
            F.concat(F.lit("<"), F.col("qn"), F.lit(' rdf:nodeID="'), _xml_escape(F.expr("substring(obj, 3)")), F.lit('"/>')),
        )
        .when(
            F.col("obj_lang").isNotNull(),
            F.concat(F.lit("<"), F.col("qn"), F.lit(' xml:lang="'), _xml_escape(F.col("obj_lang")), F.lit('">'), lex, F.lit("</"), F.col("qn"), F.lit(">")),
        )
        .when(
            F.col("obj_datatype").isNotNull(),
            F.concat(F.lit("<"), F.col("qn"), F.lit(' rdf:datatype="'), _xml_escape(F.col("obj_datatype")), F.lit('">'), lex, F.lit("</"), F.col("qn"), F.lit(">")),
        )
        .otherwise(F.concat(F.lit("<"), F.col("qn"), F.lit(">"), lex, F.lit("</"), F.col("qn"), F.lit(">")))
    )
    line = F.concat(
        F.lit("<rdf:Description "), subj_attr, F.lit(">"), prop_el, F.lit("</rdf:Description>")
    )
    # XML 1.0 cannot express C0 controls (other than TAB/LF/CR) or
    # U+FFFE/U+FFFF AT ALL — not even as character references. Emitting
    # them silently would produce a document no parser accepts; fail
    # loudly instead (N-Triples escapes such data losslessly). The guard
    # rides inside the render expression (raise_error on first offending
    # row) — no extra validation scan over the data.
    illegal = "[\x00-\x08\x0b\x0c\x0e-\x1f\ufffe\uffff]"
    line = F.when(
        # obj_datatype is rendered raw into the rdf:datatype attribute (the
        # escape passes C0 through), so it must be guarded alongside
        # subj/obj \u2014 concat_ws skips nulls, so coalesce is implicit
        F.concat_ws(
            "", F.col("subj"), F.col("obj"), F.col("obj_datatype"), F.col("obj_lang")
        ).rlike(illegal),
        F.raise_error(
            F.concat(
                F.lit(
                    "XML 1.0 cannot represent C0 control characters; "
                    "export this graph as N-Triples instead. Offending subject: "
                ),
                F.col("subj"),
            )
        ),
    ).otherwise(line)
    rendered = triples.join(qn, "pred").select(line.alias("value"))
    def _esc(ns: str) -> str:
        # namespace URIs land in the xmlns attribute — '&' is common in
        # URIs and C0/FFFE controls are unrepresentable in XML 1.0
        if re.search("[\x00-\x08\x0b\x0c\x0e-\x1f\ufffe\uffff]", ns):
            raise ValueError(
                f"XML 1.0 cannot represent C0 control characters in namespace {ns!r}; "
                "export this graph as N-Triples instead"
            )
        return ns.replace("&", "&amp;").replace("<", "&lt;").replace('"', "&quot;")

    xmlns = " ".join(f'xmlns:{pfx}="{_esc(ns)}"' for ns, pfx in sorted(ns_map.items(), key=lambda kv: kv[1]))
    header = ['<?xml version="1.0" encoding="utf-8"?>', f"<rdf:RDF {xmlns}>"]
    footer = "</rdf:RDF>"

    def with_frame(it):
        for h in header:
            yield (h,)
        for row in it:
            yield (row["value"],)
        yield (footer,)

    # per-partition header/footer needs imperative partition access (same
    # justified RDD hop as the Turtle sink)
    out = spark.createDataFrame(rendered.rdd.mapPartitions(with_frame), "value string")
    out.write.mode(mode).text(path)


def read_rdfxml_dir(spark: SparkSession, path: str, glob: str = "part-*") -> DataFrame:
    """Read a directory of RDF/XML documents (write_rdfxml output by
    default; pass ``glob`` — e.g. ``"*.rdf"`` — for harvested
    one-document-per-file corpora with other naming) into a triples
    DataFrame — DISTRIBUTED: each executor task parses whole files
    (wholetext rows), so a million-document metadata harvest scales with
    the cluster instead of the driver. The read is eager, like
    read_ntriples: the deduped triples are localCheckpointed before this
    returns, so every document is parsed once and a malformed one fails
    this call with the parser's error (Jena parity); a directory with no
    matching files yields an empty local frame, with no job.

    Per-file bnode tag: a fresh parser restarts its anonymous-bnode
    counter, so untagged labels (_:x1, _:x2 ...) would wrongly merge
    distinct anonymous nodes across files; the tag is the FULL 128-bit
    md5 of the file path (deterministic — same input, same labels; a
    truncated tag would birthday-collide at million-file scale).
    Explicit rdf:nodeID labels stay global by definition and still merge
    across files (write_rdfxml output always carries nodeID)."""
    import glob as _glob
    import hashlib

    if not _glob.glob(os.path.join(path, glob)):
        return local_frame(spark, [], terms.TRIPLES_SCHEMA)
    raw = spark.read.text(os.path.join(path, glob), wholetext=True).select(
        F.input_file_name().alias("src"), "value"
    )

    def gen(batches):
        for pdf in batches:
            for src, text in zip(pdf["src"], pdf["value"]):
                tag = hashlib.md5(src.encode()).hexdigest() + "_"
                rows = _RdfXmlParser(bnode_tag=tag).parse(text)
                if rows:
                    yield pd.DataFrame(rows, columns=terms.TRIPLE_COLS)

    parsed = raw.mapInPandas(gen, schema=terms.TRIPLES_SCHEMA)
    return parsed.dropDuplicates(["subj", "pred", "obj"]).localCheckpoint(eager=True)


def write_ntriples(triples: DataFrame, path: str, mode: str = "overwrite") -> None:
    line = F.concat_ws(
        " ",
        terms.ntriples_term_res("subj"),
        F.concat(F.lit("<"), F.col("pred"), F.lit(">")),
        terms.ntriples_term_obj(),
        F.lit("."),
    )
    triples.select(line.alias("value")).write.mode(mode).text(path)


def write_turtle(
    triples: DataFrame, path: str, prefixes: dict[str, str] | None = None, mode: str = "overwrite"
) -> None:
    """Turtle export (S2 parity: exportModel writes any Jena serialization,
    nonsparql/NospaValidator.java:56-67). Distributed: every part file is a
    self-contained Turtle document — an @prefix header followed by
    prefix-compacted triple lines (Turtle is a superset of N-Triples, so
    with no prefixes the body is exactly the N-Triples sink's output).

    Compaction is conservative: an IRI becomes pfx:local only when the
    remainder after the namespace is a safe PN local name (which must not
    end in '.' — 'pfx:foo.' would swallow the triple terminator); everything
    else stays in <> form, so the output is always valid. Compaction is
    applied per IRI term column BEFORE line assembly — never to literal
    lexical forms, so a literal whose text contains '<ns...>' is untouched."""
    prefixes = prefixes or {}
    # longest namespace first, so nested namespaces resolve to the most
    # specific prefix; anchored ^<ns>local$ on a single rendered term
    pfx_order = sorted(prefixes.items(), key=lambda kv: (-len(kv[1]), kv[0]))
    local = r"([A-Za-z_][A-Za-z0-9_.-]*[A-Za-z0-9_-]|[A-Za-z_])"

    def compact(rendered_iri: F.Column) -> F.Column:
        col = rendered_iri
        for pfx, ns in pfx_order:
            col = F.regexp_replace(col, "^<" + re.escape(ns) + local + ">$", pfx + r":$1")
        return col

    subj_t = F.when(
        F.col("subj").startswith("_:"), F.col("subj")
    ).otherwise(compact(F.concat(F.lit("<"), F.col("subj"), F.lit(">"))))
    pred_t = compact(F.concat(F.lit("<"), F.col("pred"), F.lit(">")))
    obj_t = F.when(
        terms.is_iri(), compact(F.concat(F.lit("<"), F.col("obj"), F.lit(">")))
    ).otherwise(terms.ntriples_term_obj())
    line = F.concat_ws(" ", subj_t, pred_t, obj_t, F.lit("."))
    rendered = triples.select(line.alias("value"))
    header = [f"@prefix {pfx}: <{ns}> ." for pfx, ns in sorted(prefixes.items())]

    def with_header(it):
        for h in header:
            yield (h,)
        for row in it:
            yield (row["value"],)

    # the per-partition header needs imperative partition access (one header
    # per output file) — the one legitimate RDD hop in this module; the
    # result goes straight back to the DataFrame text writer for mode support
    spark = triples.sparkSession
    out = spark.createDataFrame(rendered.rdd.mapPartitions(with_header), "value string")
    out.write.mode(mode).text(path)
