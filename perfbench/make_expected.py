"""Write expected.json: the committed expected results of the cluster
maintainers on the benchmark's fixed documents table.

    python3 perfbench/make_expected.py

Run from the repository root. The cluster maintainers' DuckDB oracles
(exact similarity pairs plus recursive fixpoints) grow quadratically with
the documents table, so the digests are computed once here from the
registry's oracle SQL rather than in every run. The file also
records a content hash of the generated documents table, so a run whose
generator output drifted reports that instead of a result mismatch.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import inputs  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402


def main() -> None:
    sql = {q: workloads._operators(m).ORACLES[q] for q, m in workloads.MAINTAINERS}
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "documents.parquet")
        inputs.write_documents(workloads.MAINT_DOCS_SEED, workloads.MAINT_DOCS, path)
        digests = oracle.duckdb_digests(sql, tmp)
        docs = inputs.table_digest(path)
    out = {
        "maintainer_documents": docs,
        "documents_seed": workloads.MAINT_DOCS_SEED,
        "documents_rows": workloads.MAINT_DOCS,
        "digests": digests,
    }
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=2, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
