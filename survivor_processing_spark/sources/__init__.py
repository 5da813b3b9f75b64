"""Ingestion sources (SURVEY.md §2.A).

The reference ingests from HTML pages (A3/A4), Google-Sheets xlsx
workbooks (A5/A6), .docx documents (A7), an incrementally-synced file
drop (A8), a keyset-paginated REST API (A9), and a hand-maintained
YAML correction map (A10).  Here each becomes a *Spark source*:

* binary formats (xlsx/docx/html) — ``binaryFile`` scan +
  ``mapInPandas`` parser: one task per file, partition-parallel, the
  right unit for non-splittable formats (SURVEY.md §7 hard part d);
* REST pagination — a Spark 4 Python DataSource with an injectable
  fetch function (tests use a deterministic in-process backend);
* YAML map — a small broadcast dimension + ``coalesce`` overlay.

The parsers are real (zipfile + ElementTree for the OOXML formats,
html.parser for HTML — no third-party parsing libs needed), not
stubs; only network access is injected.
"""

from .binary import parse_binary_files, read_binary_files  # noqa: F401
from .docx import (  # noqa: F401
    CONFESSIONAL_SCHEMA,
    docx_paragraphs,
    parse_confessional_docx,
    write_minimal_docx,
)
from .html import extract_data_sources, extract_links  # noqa: F401
from .rest import paged_fetch, register_fetcher, register_rest_source  # noqa: F401
from .xlsx import (  # noqa: F401
    find_marker,
    read_xlsx_grid,
    scan_region,
    write_minimal_xlsx,
)
from .yamlmap import correction_overlay, yaml_lookup_df  # noqa: F401
