"""Vectorized mention detection / triple extraction over transcript turns.

This is the pipeline's only Python data-plane code, and it runs as
Arrow-batched ``mapInPandas`` (no per-row Python UDFs, per BASELINE.json
input_hint). Extraction is a vectorized split/slice per relation template
(provably equivalent to the anchored lazy-group regex each template
compiles to — see extract_mentions); keys (conv_id, turn_idx) ride
through every batch so the per-turn-text-equality invariant under
repartitioning is preserved by construction.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from . import entities as E

MENTION_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("rel", StringType(), False),
        StructField("subj_surface", StringType(), False),
        StructField("obj_surface", StringType(), False),
    ]
)


def _template_patterns() -> list[tuple[str, str]]:
    """(regex, relation_local_id) per template; '{}' slots become lazy
    capture groups anchored by the template's literal text."""
    pats = []
    for tmpl, rel in E.TEMPLATES:
        parts = [re.escape(p) for p in tmpl.split("{}")]
        pattern = "^" + "(.+?)".join(parts) + "$"
        pats.append((pattern, rel))
    return pats


def extract_mentions(transcripts: DataFrame, extra_cols: list[str] | None = None) -> DataFrame:
    """(conv_id, turn_idx, text) -> (conv_id, turn_idx, rel, subj_surface, obj_surface).

    One output row per detected relation mention. Turns whose text matches
    no template produce no rows (dropped, not nulled). ``extra_cols`` are
    carried through unchanged (e.g. ``ts`` for streaming event-time) —
    streaming queries can't rejoin the stream on itself, so pass-through is
    the only watermark-safe way to keep them."""
    extra_cols = extra_cols or []
    schema = StructType(
        MENTION_SCHEMA.fields
        + [transcripts.schema[c] for c in extra_cols]
    )

    # Vectorized split/slice extraction replacing the per-row regex
    # (guide §4.2: hand whole batches to vectorized native code). Each
    # template "prefix{}mid{}suffix" compiles to `^prefix(.+?)mid(.+?)suffix$`
    # with LAZY groups; that regex matches iff the text starts with
    # prefix, ends with suffix, and the FIRST occurrence of mid after at
    # least one prefix+group char leaves >=1 char before the suffix —
    # later mid occurrences only SHRINK group 2, so if the first fails,
    # all fail, and the groups are pure slices around that first
    # occurrence. `.` excludes newlines; a newline in either group at the
    # first split can never be avoided by a later split (mid itself
    # contains no newline), so the newline check below is exact too. `$`
    # also matches before ONE final newline, so exactly one trailing "\n"
    # is stripped first. The equivalence is pinned adversarially by
    # tests/test_operators.py::test_extract_mentions_matches_regex_kernel.
    templates = [(t.split("{}"), rel) for t, rel in E.TEMPLATES]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = pdf["text"].astype("string").str.removesuffix("\n")
            outs = []
            for (prefix, mid, suffix), rel in templates:
                # group 1 is lazy but non-empty, so the regex's split point
                # is the first mid occurrence at index >= len(prefix)+1:
                # search in the tail AFTER prefix plus one group-1 char
                # (an occurrence inside that head region is one the regex
                # backtracks past)
                tail = texts.str.slice(len(prefix) + 1)
                split = tail.str.split(mid, n=1, regex=False)
                # astype("string"): an all-NaN slot (no row had the mid
                # segment) is object-dtype and would reject the .str
                # accessor
                left_tail = split.str[0].astype("string")
                right = split.str[1].astype("string")
                valid = right.notna() & (right.str.len() >= len(suffix) + 1)
                if prefix:
                    valid &= texts.str.startswith(prefix)
                if suffix:
                    valid &= texts.str.endswith(suffix)
                valid = valid.fillna(False)
                if not valid.any():
                    continue
                s1 = texts[valid].str.slice(len(prefix), len(prefix) + 1) + left_tail[valid]
                s2 = right[valid].str.slice(0, -len(suffix)) if suffix else right[valid]
                # `.` in the regex groups excludes newlines
                keep = ~(
                    s1.str.contains("\n", regex=False)
                    | s2.str.contains("\n", regex=False)
                )
                if not keep.any():
                    continue
                hit = s1.index[keep]
                data = {
                    "conv_id": pdf.loc[hit, "conv_id"],
                    "turn_idx": pdf.loc[hit, "turn_idx"].astype("int32"),
                    "rel": rel,
                    "subj_surface": s1[keep].astype(object),
                    "obj_surface": s2[keep].astype(object),
                }
                for c in extra_cols:
                    data[c] = pdf.loc[hit, c]
                outs.append(pd.DataFrame(data))
            if outs:
                yield pd.concat(outs, ignore_index=True)
            else:
                yield pd.DataFrame({f.name: pd.Series(dtype="object") for f in schema.fields})

    from ..session import spread

    # parallelism floor for the regex kernel: a single-partition scan
    # would serialize the extraction on one Python worker (no-op for
    # streaming frames and well-partitioned inputs)
    cols = spread(transcripts.select("conv_id", F.col("turn_idx").cast("int"), "text", *extra_cols))
    return cols.mapInPandas(gen, schema=schema)
