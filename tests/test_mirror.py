"""Mirror-sync + snapshot-fallback semantics (reference S7-S12, C3, C4).
Transport is stubbed; every branch of the idempotency contract is
exercised: new/changed/same/gone-upstream, protected files, delete
toggle, partial_success, run metadata, cached fallback, first-run hard
fail. The production transport, ``default_http_fetch``, runs against a
loopback ``http.server`` on 127.0.0.1: a 503 is retried, a 404 raises."""

from __future__ import annotations

import json

import pytest

from rearc_data_engineer_takehome_spark.sources import mirror


class StubRemote:
    def __init__(self, files: dict[str, bytes]):
        self.files = dict(files)
        self.calls: list[str] = []
        self.fail_on: set[str] = set()

    def fetch(self, url: str) -> bytes:
        self.calls.append(url)
        name = url.rstrip("/").rsplit("/", 1)[-1]
        if name in self.fail_on:
            raise IOError(f"503 on {name}")
        if name == "listing" or url.endswith("/"):
            hrefs = "".join(f'<a href="{f}">{f}</a>' for f in self.files)
            return hrefs.encode()
        return self.files[name]


BASE = "http://stub/files"
LISTING = "http://stub/files/listing"


@pytest.fixture()
def remote():
    return StubRemote({"pr.data.0.Current": b"v1 data", "pr.series": b"series"})


def sync(remote, tmp_path, **kw):
    return mirror.mirror_sync(
        BASE, tmp_path / "mirror", remote.fetch, file_prefix="pr.",
        listing_url=LISTING, **kw,
    )


def test_first_sync_uploads_all(remote, tmp_path):
    rep = sync(remote, tmp_path)
    assert rep.status == "success"
    assert sorted(rep.uploaded) == ["pr.data.0.Current", "pr.series"]
    assert (tmp_path / "mirror" / "pr.data.0.Current").read_bytes() == b"v1 data"


def test_rerun_is_noop_idempotent(remote, tmp_path):
    sync(remote, tmp_path)
    rep = sync(remote, tmp_path)
    # Uploaded=0 Updated=0 Skipped=N Deleted=0 (reference 10_ingest_bls.ipynb:203)
    assert (rep.uploaded, rep.updated, rep.deleted) == ([], [], [])
    assert sorted(rep.skipped) == ["pr.data.0.Current", "pr.series"]


def test_changed_content_updates(remote, tmp_path):
    sync(remote, tmp_path)
    remote.files["pr.data.0.Current"] = b"v2 data"
    rep = sync(remote, tmp_path)
    assert rep.updated == ["pr.data.0.Current"]
    assert (tmp_path / "mirror" / "pr.data.0.Current").read_bytes() == b"v2 data"


def test_gone_upstream_deleted_unless_protected(remote, tmp_path):
    sync(remote, tmp_path)
    del remote.files["pr.series"]
    rep = sync(remote, tmp_path, protected_files=frozenset({"pr.series"}))
    assert rep.deleted == []
    rep = sync(remote, tmp_path)
    assert rep.deleted == ["pr.series"]
    assert not (tmp_path / "mirror" / "pr.series").exists()


def test_delete_toggle_off(remote, tmp_path):
    sync(remote, tmp_path)
    del remote.files["pr.series"]
    rep = sync(remote, tmp_path, enable_delete=False)
    assert rep.deleted == []
    assert (tmp_path / "mirror" / "pr.series").exists()


def test_per_file_error_gives_partial_success(remote, tmp_path):
    remote.fail_on = {"pr.series"}
    rep = sync(remote, tmp_path)
    assert rep.status == "partial_success"
    assert rep.uploaded == ["pr.data.0.Current"]
    assert "pr.series" in rep.errors


def test_listing_failure_is_failed_run_with_metadata(remote, tmp_path):
    remote.fail_on = {"listing"}
    rep = sync(remote, tmp_path)
    assert rep.status == "failed"
    latest = json.loads((tmp_path / "mirror" / "_meta" / "latest.json").read_text())
    assert latest["status"] == "failed"


def test_run_metadata_append_only_plus_latest(remote, tmp_path):
    rep1 = sync(remote, tmp_path)
    rep2 = sync(remote, tmp_path)
    runs = list((tmp_path / "mirror" / "_meta" / "runs").iterdir())
    assert {p.stem for p in runs} >= {rep1.run_id, rep2.run_id}
    latest = json.loads((tmp_path / "mirror" / "_meta" / "latest.json").read_text())
    assert latest["run_id"] == rep2.run_id


def test_snapshot_success_overwrites(tmp_path):
    target = tmp_path / "population.json"
    res = mirror.snapshot_with_fallback("http://api", target, lambda u: b'{"a":1}')
    assert res.mode == "api_success" and target.read_bytes() == b'{"a":1}'


def test_snapshot_fallback_cached(tmp_path):
    target = tmp_path / "population.json"
    target.write_bytes(b'{"cached":true}')

    def fail(url):
        raise IOError("api down")

    res = mirror.snapshot_with_fallback("http://api", target, fail)
    assert res.mode == "fallback_cached"
    assert target.read_bytes() == b'{"cached":true}'


def test_snapshot_first_run_no_cache_raises(tmp_path):
    def fail(url):
        raise IOError("api down")

    with pytest.raises(RuntimeError, match="no cached copy"):
        mirror.snapshot_with_fallback("http://api", tmp_path / "p.json", fail)


def test_listing_parser_variants():
    html = (
        '<a href="pr.data.0.Current">x</a> '
        "<a href='pr.series'>y</a> "
        "<a href=pr.txt>z</a> "
        '<a href="other.csv">n</a> <a href="sub/">d</a>'
    )
    assert mirror.list_remote_files(html, prefix="pr.") == [
        "pr.data.0.Current", "pr.series", "pr.txt",
    ]


class _LoopbackServer:
    """A 127.0.0.1 HTTP server answering each GET with the next
    (status, body) of ``replies``; records the paths it served."""

    def __init__(self, replies):
        import http.server
        import threading

        self.replies = list(replies)
        self.paths: list[str] = []
        outer = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):
                outer.paths.append(self.path)
                status, body = outer.replies.pop(0)
                self.send_response(status)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *_args):
                pass

        self.server = http.server.ThreadingHTTPServer(
            ("127.0.0.1", 0), Handler
        )
        self.url = f"http://127.0.0.1:{self.server.server_port}"
        self.thread = threading.Thread(
            target=self.server.serve_forever, daemon=True
        )

    def __enter__(self):
        self.thread.start()
        return self

    def __exit__(self, *_exc):
        self.server.shutdown()
        self.server.server_close()


def test_default_http_fetch_retries_a_503_then_returns_the_body():
    with _LoopbackServer([(503, b"busy"), (200, b"pr.data")]) as srv:
        fetch = mirror.default_http_fetch(timeout=(5, 5))
        assert fetch(f"{srv.url}/pub/pr.data") == b"pr.data"
    assert srv.paths == ["/pub/pr.data", "/pub/pr.data"]


def test_default_http_fetch_raises_on_404():
    import requests

    with _LoopbackServer([(404, b"gone")]) as srv:
        fetch = mirror.default_http_fetch(timeout=(5, 5))
        with pytest.raises(requests.HTTPError):
            fetch(f"{srv.url}/pub/missing")
    assert srv.paths == ["/pub/missing"]
