"""Profiling-tool tests: the shared event-log reader."""

from __future__ import annotations

import json
import os
import subprocess
import tempfile

from tools.scaling_decompose import load_events


def test_load_events_rolled_zstd_in_order_without_temp_files(tmp_path, monkeypatch):
    """A rolled log (part 1 zstd, part 2 plain) is read in part order, and
    decompressing leaves nothing behind in the temp dir."""
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))

    ev_dir = tmp_path / "ev"
    older = ev_dir / "eventlog_v2_local-1"
    app = ev_dir / "eventlog_v2_local-2"
    for d in (older, app):
        d.mkdir(parents=True)
    (older / "events_1_local-1").write_text(json.dumps({"Event": "old"}) + "\n")
    os.utime(older, (1, 1))

    def events(ids):
        return "".join(json.dumps({"Event": "e", "n": i}) + "\n" for i in ids)

    # part 2 is written first, so file age and part order disagree
    (app / "events_2_local-2").write_text(events(range(3, 6)) + "not json\n")
    plain = app / "events_1_local-2"
    plain.write_text(events(range(3)))
    subprocess.run(
        ["zstd", "-q", "--rm", str(plain), "-o", f"{plain}.zstd"], check=True
    )
    (app / "appstatus_local-2").write_text("")

    got = [ev["n"] for ev in load_events(str(ev_dir))]
    assert got == list(range(6))
    assert [ev["n"] for ev in load_events(str(app))] == got
    assert os.listdir(scratch) == []
