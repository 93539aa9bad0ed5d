"""Vectorized Arrow/pandas UDF wrappers over ccspark.kernels.

These are the ONLY Python touch-points in the engine's hot path
(input_hint mandate: vectorized pandas/Arrow UDFs, no per-row Python).
Everything else — filters, explodes, joins, windows, aggregations — is
JVM-side DataFrame API under whole-stage codegen.

URL canonicalization (U1-U4 + U11) is one `mapInArrow` pass,
`canon_batches`: each row crosses the JVM↔Python boundary once, the
kernel runs once per row, and malformed rows are dropped in the same
pass, so no JVM filter sits above a UDF for the optimizer to re-evaluate
it below.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_type

from . import kernels as K

#: candidate columns canon_batches reads, in kernels.canon_block order
CANON_INPUTS = ("url_raw", "page_url", "kind", "alt", "parent_txt",
                "dom_depth", "dom_sib")

#: columns canon_batches appends to every batch
CANON_FIELDS = [
    T.StructField("url", T.StringType()),
    T.StructField("host", T.StringType()),
    T.StructField("surt", T.StringType()),
    T.StructField("priority", T.DoubleType()),
]


def canon_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow body for U1+U2+U3+U4-key+U11: the seven CANON_INPUTS
    columns go through kernels.canon_block; url/host/surt/priority are
    appended to the batch and rows with a null url (malformed,
    ProcessingService.java:427-429) or a null/empty host are dropped.
    Pass-through columns stay Arrow — a pandas round trip would turn
    nullable integers (event_ms, hop) into float64."""
    for b in batches:
        c = K.canon_block(*(b.column(n).to_pandas() for n in CANON_INPUTS))
        keep = (c["url"].notna() & c["host"].notna()
                & (c["host"] != "")).to_numpy()
        out = b.filter(keep)
        for f in CANON_FIELDS:
            out = out.append_column(f.name, pa.array(
                c[f.name][keep], type=to_arrow_type(f.dataType),
                from_pandas=True))
        yield out


@F.pandas_udf(T.StringType())
def host_udf(urls: pd.Series) -> pd.Series:
    """U3: java.net.URL#getHost semantics (case-preserving, port-stripped)."""
    return K.hosts_of(urls)


@F.pandas_udf(T.BooleanType())
def dual_big_udf(urls: pd.Series, priorities: pd.Series) -> pd.Series:
    """Dual-model arbitration (ProcessingService.java:200-222): n-gram
    scorer vs the 23-feature priority, agreement else margin rule."""
    return K.dual_model_big_batch(urls, priorities)
