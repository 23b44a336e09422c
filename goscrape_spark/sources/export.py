"""Materialize the crawl output table as an offline-browsable directory tree
(S6/S7: scraper/fs.go:12-51, fileutil.go:25-53).

The engine's canonical output is the ``output`` TABLE (url, file_path, body,
is_page, epoch) — table-format snapshots give the atomicity the reference
gets from delete-partial-file-on-error (fs.go:24-51).  This export step
walks that table and writes ``<root>/<file_path>`` files, executed on the
driver via ``toLocalIterator`` (the tree lands on ONE filesystem by
definition; executors write shared storage in a real deployment — same
iterator, different root).

Resume note: the reference re-run skips an asset whose file exists
(download.go:76-79) but always overwrites pages ("always update",
scraper.go:266), and so does this export; the engine's checkpoint resume
makes it mostly moot (previously-seen URLs are never refetched at all).

Serve note (S9, scraper/server.go): the exported tree is plain static files —
``python -m http.server --directory <root>`` covers the reference's
``--serve`` mode.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def export_output_tree(output: DataFrame, root: str) -> int:
    """Write the output table to ``root``; returns files written."""
    written = 0
    for row in output.select("file_path", "body", "is_page").toLocalIterator():
        path = os.path.join(root, row.file_path)
        if not row.is_page and os.path.exists(path):
            continue  # assets keep the existing file (download.go:76-79)
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "wb") as f:
            f.write(bytes(row.body) if row.body is not None else b"")
        written += 1
    return written
