"""survivor_processing_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and
data-processing capabilities of the reference batch-ETL system
(``SeanAmmirati/survivor_processing``): relational operators
(joins incl. as-of, window ranks, grouped aggregates, unpivots,
explodes, regex extraction), idempotent MERGE sinks, incremental
watermark processing, plus large-scale training-data-pipeline
operators (dedup, similarity search, text analysis, multimodal
columns).

Design stance: declare logical plans with the DataFrame/SQL API and
let Catalyst + Tungsten pick physical strategy.  Python UDFs only
where built-ins genuinely can't express the semantics (and then
Arrow-batched).  Every operator is written for a 1000-executor /
100 TB deployment even though tests run on ``local[*]``:

* lookup joins are broadcast, never per-row round-trips
  (reference anti-pattern: helpers/db_funcs.py:137-228);
* aggregations rely on partial+final hash agg, no driver collects;
* as-of joins avoid a global sort via a broadcast interval rewrite;
* surrogate-id minting confines the reference's ``MAX(id)+1``
  sequence (contestant_extract.py:296-317) to the null-id rows.
"""

__version__ = "0.1.0"

from .session import get_spark
from .catalog import load_table, register_views, TABLES

__all__ = [
    "get_spark",
    "load_table",
    "register_views",
    "TABLES",
]
