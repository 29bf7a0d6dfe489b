"""The streamed sink's pyarrow.fs seam (r10 verdict #4).

The sink does all its file I/O through _fs_for's (filesystem, fs-local
path) seam — a bare path is pyarrow's LocalFileSystem, a URI its store.
file:// parity is covered end-to-end by tests/test_streamed_sink.py;
these tests prove the seam's helpers on bare local paths and on
filesystems whose path semantics DIFFER from local POSIX:

- SubTreeFileSystem: paths are RELATIVE to a prefix root, so any helper
  that secretly round-trips through os.path absolutes, or assumes the
  fs-local path exists on the local disk, breaks here.
- A latency-injecting, call-counting PyFileSystem handler: proves every
  byte moves through the seam (zero direct open()/glob leaks) and that
  the stitch survives a slow store.

Also pinned here: the task-commit protocol (r10 ADVICE #1) — an
in-progress part file is an attempt-unique dot-temp invisible to part-*
globs, two racing attempts publish by last-wins rename with no
interleaving, and no temp litter survives.
"""

import json
import time

import pytest
from pyarrow import fs as pafs

from relational_to_doc_oriented_nosql_migrator_spark.sinks import json_collections as jc
from relational_to_doc_oriented_nosql_migrator_spark.sinks.json_collections import (
    _LevelSpec,
    _iter_part_lines,
    _listdir,
    _mkdirs,
    _partition_dirs,
    _rename,
    _rm_rf,
    _stitch_part,
)

SCHEME = "sgtest://"


class _SlowCountingHandler(pafs.FileSystemHandler):
    """Delegates to a SubTreeFileSystem while counting calls and adding
    a per-call delay — the 'slow object store' twin of LocalFileSystem."""

    def __init__(self, base: pafs.SubTreeFileSystem, delay_s: float = 0.0):
        self.base = base
        self.delay_s = delay_s
        self.calls: dict[str, int] = {}

    def _hit(self, op):
        self.calls[op] = self.calls.get(op, 0) + 1
        if self.delay_s:
            time.sleep(self.delay_s)

    def get_type_name(self):
        return "slow-counting"

    def get_file_info(self, paths):
        self._hit("get_file_info")
        return self.base.get_file_info(paths)

    def get_file_info_selector(self, selector):
        self._hit("get_file_info_selector")
        return self.base.get_file_info(selector)

    def create_dir(self, path, recursive):
        self._hit("create_dir")
        self.base.create_dir(path, recursive=recursive)

    def delete_dir(self, path):
        self._hit("delete_dir")
        self.base.delete_dir(path)

    def delete_dir_contents(self, path, missing_dir_ok=False):
        self._hit("delete_dir_contents")
        self.base.delete_dir_contents(path, missing_dir_ok=missing_dir_ok)

    def delete_root_dir_contents(self):
        self._hit("delete_root_dir_contents")
        self.base.delete_dir_contents("/", accept_root_dir=True)

    def delete_file(self, path):
        self._hit("delete_file")
        self.base.delete_file(path)

    def move(self, src, dest):
        self._hit("move")
        self.base.move(src, dest)

    def copy_file(self, src, dest):
        self._hit("copy_file")
        self.base.copy_file(src, dest)

    def open_input_stream(self, path):
        self._hit("open_input_stream")
        return self.base.open_input_stream(path)

    def open_input_file(self, path):
        self._hit("open_input_file")
        return self.base.open_input_file(path)

    def open_output_stream(self, path, metadata):
        self._hit("open_output_stream")
        return self.base.open_output_stream(path)

    def open_append_stream(self, path, metadata):
        self._hit("open_append_stream")
        return self.base.open_append_stream(path)

    def normalize_path(self, path):
        return path


@pytest.fixture(params=["local", "subtree", "slow"])
def seam(request, tmp_path, monkeypatch):
    """Patch _fs_for so SCHEME paths resolve through a non-POSIX-pathed
    filesystem rooted at tmp_path; returns (prefix, handler-or-None).
    "local" patches nothing: the prefix is tmp_path as a bare path."""
    if request.param == "local":
        return f"{tmp_path}/", None
    base = pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem())
    handler = None
    if request.param == "slow":
        handler = _SlowCountingHandler(base, delay_s=0.002)
        fs = pafs.PyFileSystem(handler)
    else:
        fs = base
    real = jc._fs_for.__wrapped__  # undecorated original

    def fake(path: str):
        if path.startswith(SCHEME):
            return fs, path[len(SCHEME):]
        return real(path)

    monkeypatch.setattr(jc, "_fs_for", fake)
    return SCHEME, handler


def test_helpers_round_trip_on_foreign_fs(seam):
    prefix, handler = seam
    frag = f"{prefix}frags/__pk=k1"
    _mkdirs(frag)
    # fragment files the Spark writer would have produced
    with jc._open_text_out(f"{frag}/part-00000") as out:
        out.write('{"a":1}\n{"a":2}\n')
    with jc._open_text_out(f"{frag}/part-00001") as out:
        out.write('{"a":3}\n')
    assert list(_iter_part_lines(frag)) == [
        '{"a":1}', '{"a":2}', '{"a":3}'
    ]
    # partition-dir discovery keeps the scheme on returned paths
    dirs = _partition_dirs(f"{prefix}frags", "__pk")
    assert set(dirs) == {"k1"}
    assert dirs["k1"].startswith(prefix)
    assert list(_iter_part_lines(dirs["k1"]))[0] == '{"a":1}'
    names = {b for b, _p in _listdir(f"{prefix}frags", "__pk=")}
    assert names == {"__pk=k1"}
    _rm_rf(frag)
    assert _listdir(f"{prefix}frags", "__pk=") == []
    if handler is not None:
        # every operation went through the seam
        assert handler.calls.get("open_output_stream", 0) >= 2
        assert handler.calls.get("open_input_stream", 0) >= 3
        assert handler.calls.get("delete_dir", 0) >= 1


def test_stitch_part_on_foreign_fs(seam):
    """_stitch_part (the executor-side task body) stitches fragments
    reached through the seam and publishes via temp+rename."""
    prefix, handler = seam
    frag = f"{prefix}lvl/__pk=kr1"
    _mkdirs(frag)
    with jc._open_text_out(f"{frag}/part-00000") as out:
        out.write('{"n":10}\n{"n":20}\n')
    spec = _LevelSpec(
        name="kids", dirs=_partition_dirs(f"{prefix}lvl", "__pk"), children=[]
    )
    out_dir = f"{prefix}out"
    _mkdirs(out_dir)
    _stitch_part(f"{out_dir}/part-00000.json", ["k" + "r1"],
                 ['{"id":"r1"}', "{}"], [spec])
    _stitch_part(f"{out_dir}/part-00001.json", [None],
                 ['{"id":"r2"}', "{}"], [spec])
    lines = list(_iter_part_lines(out_dir))
    assert [json.loads(ln) for ln in lines] == [
        {"id": "r1", "kids": [{"n": 10}, {"n": 20}]},
        {"id": "r2"},
    ]
    # task-commit: no dot-temp litter, and the part names are final
    names = {b for b, _p in _listdir(out_dir, "")}
    assert names == {"part-00000.json", "part-00001.json"}
    if handler is not None:
        assert handler.calls.get("move", 0) == 2  # the commit renames


def test_stitch_duplicate_attempts_last_wins(seam):
    """Two attempts of the same task (speculation / zombie retry) write
    attempt-unique temps; both renames land a COMPLETE file, never an
    interleaving."""
    prefix, _handler = seam
    out_dir = f"{prefix}race"
    _mkdirs(out_dir)
    part = f"{out_dir}/part-00000.json"
    _stitch_part(part, [], ['{"id":"x"}'], [])
    # the duplicate attempt republishes
    _stitch_part(part, [], ['{"id":"x"}'], [])
    lines = list(_iter_part_lines(out_dir))
    assert [json.loads(ln) for ln in lines] == [{"id": "x"}]
    names = {b for b, _p in _listdir(out_dir, "")}
    assert names == {"part-00000.json"}  # no temp litter from either


def test_rename_last_wins_overwrites(seam):
    prefix, _handler = seam
    d = f"{prefix}ren"
    _mkdirs(d)
    with jc._open_text_out(f"{d}/a") as out:
        out.write("old\n")
    with jc._open_text_out(f"{d}/b") as out:
        out.write("new\n")
    _rename(f"{d}/b", f"{d}/a")
    assert list(_iter_part_lines(d)) == []  # no part-* files
    with jc._fs_for(f"{d}/a")[0].open_input_stream(
        jc._fs_for(f"{d}/a")[1]
    ) as fh:
        assert fh.read() == b"new\n"
