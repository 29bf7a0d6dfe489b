"""The writer of collection documents already rendered as JSON text on
the driver, and the collection zip (reference server/WriteToFile.js:5-62).

Plain Python on local paths: the dump path (service and CLI `--dump`)
writes through here without loading Spark or Arrow, and the Spark sink
(sinks/json_collections.py) uses the same writer for its single-file
collects and the same zip for its NDJSON directories.

Documents arrive as (collection, [document JSON]) chunks, a collection's
chunks one after another (plans.documents.document_chunks, or a dict's
items() for whole lists), and each chunk is encoded and written before
the next is asked for: to files (write_documents), or straight into the
entries of a zip (zip_documents).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import zipfile
import zlib
from collections.abc import Callable, Iterable
from itertools import groupby
from operator import itemgetter

# Deflate level of every collection zip: the archive is served from
# 127.0.0.1 (service.serve), where level 6 would cost about three times
# the CPU for a third fewer bytes.
ZIP_LEVEL = zlib.Z_BEST_SPEED

# (head, separator, tail) of a collection's file: the reference's
# JSON.stringify of the whole collection (single_file), or NDJSON.
_ARRAY = ("[", ",", "]")
_NDJSON = ("", "\n", "\n")

Chunks = Iterable[tuple[str, list[str]]]


def _write(chunks: Chunks, layout: tuple[str, str, str],
           open_collection: Callable, remove_earlier: Callable | None = None,
           ) -> dict[str, int]:
    """Write each collection's chunks, in order, to the binary stream
    open_collection(name) gives, opened at its first document: an empty
    collection opens nothing. Returns {name: documents written}.
    remove_earlier(name) runs first for every collection."""
    head, sep, tail = layout
    counts: dict[str, int] = {}
    for name, group in groupby(chunks, key=itemgetter(0)):
        if remove_earlier is not None:
            remove_earlier(name)
        with contextlib.ExitStack() as stack:
            for _name, docs in group:
                if not docs:
                    continue
                if name in counts:
                    text = sep + sep.join(docs)
                else:
                    fh = stack.enter_context(open_collection(name))
                    text = head + sep.join(docs)
                    counts[name] = 0
                fh.write(text.encode("utf-8"))
                counts[name] += len(docs)
            if name in counts:
                fh.write(tail.encode("utf-8"))
    return counts


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
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED,
                         compresslevel=ZIP_LEVEL) as zf:
        for entry in entries:
            zf.write(os.path.join(out_dir, entry), entry)


def zip_documents(chunks: Chunks, zip_path: str) -> dict[str, int]:
    """Write each non-empty collection straight into its `<name>.json`
    entry of a new zip at zip_path, as the array write_documents'
    single_file mode writes, without a file on disk. Returns {name:
    documents written}, in collection order; the zip holds exactly
    those."""
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED,
                         compresslevel=ZIP_LEVEL) as zf:
        return _write(chunks, _ARRAY,
                      lambda name: zf.open(f"{name}.json", "w"))


def write_documents(
    chunks: Chunks,
    out_dir: str,
    single_file: bool = False,
    zip_path: str | None = None,
) -> dict[str, int]:
    """The one writer of collection documents already rendered as JSON
    text on the driver, to files: `<name>.json` arrays in single_file
    mode (the reference's JSON.stringify of the whole collection), else
    one NDJSON `<name>/part-00000.json` that replaces the whole earlier
    `<name>/`. An empty collection writes nothing and removes its earlier
    output. Returns {name: documents written} for the written
    collections, in collection order; the zip holds exactly those. Local
    paths only."""
    os.makedirs(out_dir, exist_ok=True)

    def remove_earlier(name: str) -> None:
        if single_file:
            with contextlib.suppress(OSError):
                os.remove(os.path.join(out_dir, f"{name}.json"))
        else:
            shutil.rmtree(os.path.join(out_dir, name), ignore_errors=True)

    def open_collection(name: str):
        if single_file:
            return open(os.path.join(out_dir, f"{name}.json"), "wb")
        os.makedirs(os.path.join(out_dir, name))
        return open(os.path.join(out_dir, name, "part-00000.json"), "wb")

    counts = _write(chunks, _ARRAY if single_file else _NDJSON,
                    open_collection, remove_earlier)
    if zip_path:
        zip_collections(out_dir, zip_path, list(counts), single_file)
    return counts
