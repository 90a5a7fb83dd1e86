"""Canonical RDF term encoding for the ``triples`` DataFrame.

The reference engine compares RDF terms by *term equality* — same IRI, or
same (lexical form, datatype, language) for literals (Jena ``RDFNode``
equality; used e.g. for duplicate detection at
nonsparql/ValidatorIC11_12.java:70-80 and typed-boolean comparisons at
nonsparql/ValidatorBase.java:369-372 in the reference). To reproduce that
with plain string equality in joins/groupBys we encode:

- IRI            -> the bare IRI string (``http://...``)
- blank node     -> ``_:b<n>`` (stable ids per parse)
- literal        -> ``literal:<datatype>:<lang>:<lexical>``

IRIs and bnode ids can never collide with the ``literal:`` prefix in
practice, so one string column gives term-identity joins; ``obj_kind``
(+ ``obj_datatype`` / ``obj_lang``) carries the node-kind predicates
(isURIResource/isAnon/isLiteral, ValidatorBase.java:178-198).

Triples DataFrame schema (see FIXTURES.md §2):
    subj:string, pred:string, obj:string,
    obj_kind:string ('iri'|'bnode'|'literal'),
    obj_datatype:string (nullable), obj_lang:string (nullable)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from . import qb
from .session import local_frame

KIND_IRI = "iri"
KIND_BNODE = "bnode"
KIND_LITERAL = "literal"

TRIPLES_SCHEMA = StructType(
    [
        StructField("subj", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj", StringType(), False),
        StructField("obj_kind", StringType(), False),
        StructField("obj_datatype", StringType(), True),
        StructField("obj_lang", StringType(), True),
    ]
)

TRIPLE_COLS = [f.name for f in TRIPLES_SCHEMA.fields]


def encode_literal(lexical: str, datatype: str = "", lang: str = "") -> str:
    """Canonical string encoding of an RDF literal (term equality = string equality)."""
    return f"literal:{datatype or ''}:{lang or ''}:{lexical}"


# Typed boolean literals (ValidatorBase.java:369-372 equivalents).
TRUE = encode_literal("true", qb.XSD_BOOLEAN)
FALSE = encode_literal("false", qb.XSD_BOOLEAN)


def iri_row(subj: str, pred: str, obj: str) -> tuple:
    """Triple row whose object is an IRI."""
    return (subj, pred, obj, KIND_IRI, None, None)


def bnode_row(subj: str, pred: str, obj: str) -> tuple:
    """Triple row whose object is a blank node (obj = '_:bN')."""
    return (subj, pred, obj, KIND_BNODE, None, None)


def lit_row(subj: str, pred: str, lexical: str, datatype: str = "", lang: str = "") -> tuple:
    return (
        subj,
        pred,
        encode_literal(lexical, datatype, lang),
        KIND_LITERAL,
        datatype or None,
        lang or None,
    )


def triples_df(spark: SparkSession, rows) -> DataFrame:
    """Build a canonical triples DataFrame from driver-side rows: the store
    of the Turtle and RDF/XML readers, and of test fixtures. The rows become
    a ``local_frame`` (no Python-RDD plan); duplicate triples are dropped."""
    return local_frame(spark, rows, TRIPLES_SCHEMA).dropDuplicates(["subj", "pred", "obj"])


def is_iri(col: str = "obj_kind") -> F.Column:
    return F.col(col) == KIND_IRI


def is_bnode(col: str = "obj_kind") -> F.Column:
    return F.col(col) == KIND_BNODE


def ntriples_term_obj() -> F.Column:
    """Render the object columns of a triples DF back to N-Triples syntax.

    Escapes backslash and quote, then newline/CR/tab — N-Triples is
    line-oriented, so an unescaped control char in a literal would split the
    triple across lines and silently lose it on re-read (Jena's writer
    escapes these too). Mirrors _UNESC on the read side."""
    lex = F.regexp_replace(
        F.expr("substring(obj, length(concat('literal:', coalesce(obj_datatype,''), ':', coalesce(obj_lang,''), ':')) + 1)"),
        '(["\\\\])',
        r"\\$1",
    )
    lex = F.regexp_replace(lex, "\n", r"\\n")
    lex = F.regexp_replace(lex, "\r", r"\\r")
    lex = F.regexp_replace(lex, "\t", r"\\t")
    lit = F.concat(F.lit('"'), lex, F.lit('"'))
    lit = F.when(
        F.col("obj_lang").isNotNull(), F.concat(lit, F.lit("@"), F.col("obj_lang"))
    ).when(
        F.col("obj_datatype").isNotNull(),
        F.concat(lit, F.lit("^^<"), F.col("obj_datatype"), F.lit(">")),
    ).otherwise(lit)
    return (
        F.when(F.col("obj_kind") == KIND_LITERAL, lit)
        .when(F.col("obj_kind") == KIND_BNODE, F.col("obj"))
        .otherwise(F.concat(F.lit("<"), F.col("obj"), F.lit(">")))
    )


def ntriples_term_res(col: str) -> F.Column:
    """Render a subject/predicate column (IRI or bnode) to N-Triples syntax."""
    c = F.col(col)
    return F.when(c.startswith("_:"), c).otherwise(F.concat(F.lit("<"), c, F.lit(">")))
