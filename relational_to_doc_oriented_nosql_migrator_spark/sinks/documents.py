"""The writer of collection documents already rendered as JSON text on
the driver, and the collection zip (reference server/WriteToFile.js:5-62).

Plain Python on local paths: the dump path (service and CLI `--dump`)
writes through here without loading Spark or Arrow, and the Spark sink
(sinks/json_collections.py) uses the same writer for its single-file
collects and the same zip for its NDJSON directories.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import zipfile


def zip_collections(out_dir: str, zip_path: str, names: list[str],
                    single_file: bool) -> None:
    """Pack the named collections, in order, into zip_path (reference
    results/collections.zip parity): `<name>.json`, or the files under
    `<name>/` without the Hadoop writer's checksums and commit marker.
    Nothing else in out_dir goes in — not an earlier run's collections,
    not the archive itself when it lives there."""
    entries = []
    for name in names:
        if single_file:
            entries.append(f"{name}.json")
        else:
            entries.extend(
                f"{name}/{f}"
                for f in sorted(os.listdir(os.path.join(out_dir, name)))
                if f != "_SUCCESS" and not f.endswith(".crc")
            )
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for entry in entries:
            zf.write(os.path.join(out_dir, entry), entry)


def write_documents(
    documents: dict[str, list[str]],
    out_dir: str,
    single_file: bool = False,
    zip_path: str | None = None,
) -> dict[str, int]:
    """The one writer of collection documents already rendered as JSON
    text on the driver ({collection: [document JSON]}: plans/documents.py,
    or write_json_collections' single_file collects): `<name>.json`
    arrays in single_file mode (the reference's JSON.stringify of the
    whole collection), else one NDJSON `<name>/part-00000.json` that
    replaces the whole earlier `<name>/`. An empty collection writes
    nothing and removes its earlier output. Returns {name: documents
    written} for the written collections, in collection order; the zip
    holds exactly those. Local paths only."""
    os.makedirs(out_dir, exist_ok=True)
    counts: dict[str, int] = {}
    for name, docs in documents.items():
        target = os.path.join(out_dir, name)
        if single_file:
            with contextlib.suppress(OSError):
                os.remove(f"{target}.json")
        else:
            shutil.rmtree(target, ignore_errors=True)
        if not docs:
            continue
        if single_file:
            path, text = f"{target}.json", "[" + ",".join(docs) + "]"
        else:
            os.makedirs(target)
            path = os.path.join(target, "part-00000.json")
            text = "\n".join(docs) + "\n"
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(text)
        counts[name] = len(docs)
    if zip_path:
        zip_collections(out_dir, zip_path, list(counts), single_file)
    return counts
