"""Fetch utilities (E1-E4) against a local HTTP server — no external
network."""

import bz2
import functools
import http.server
import io
import os
import tarfile
import threading
import zipfile

import pytest

from kgw_spark.sources import fetch


@pytest.fixture()
def http_root(tmp_path):
    payload = os.urandom(64 * 1024)
    (tmp_path / "data.bin").write_bytes(payload)
    handler = functools.partial(
        http.server.SimpleHTTPRequestHandler, directory=str(tmp_path)
    )
    httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{httpd.server_address[1]}", payload, tmp_path
    httpd.shutdown()


def test_download_with_checksum(http_root, tmp_path):
    url, payload, _ = http_root
    import hashlib

    dest = str(tmp_path / "out.bin")
    fetch.download_file(
        f"{url}/data.bin", dest, checksum=hashlib.sha256(payload).hexdigest()
    )
    assert open(dest, "rb").read() == payload


def test_download_restarts_when_server_ignores_range(http_root, tmp_path):
    # SimpleHTTPRequestHandler ignores Range → server answers 200 with
    # the full body; the downloader must restart, not append
    url, payload, _ = http_root
    dest = str(tmp_path / "out.bin")
    with open(dest + ".partial", "wb") as f:
        f.write(payload[: len(payload) // 2])
    fetch.download_file(f"{url}/data.bin", dest)
    assert open(dest, "rb").read() == payload


class _RangeHandler(http.server.SimpleHTTPRequestHandler):
    seen_ranges = []

    def do_GET(self):
        path = os.path.join(self.directory, self.path.lstrip("/"))
        data = open(path, "rb").read()
        rng = self.headers.get("Range")
        if rng and rng.startswith("bytes="):
            start = int(rng.split("=")[1].rstrip("-"))
            type(self).seen_ranges.append(start)
            body = data[start:]
            self.send_response(206)
            self.send_header(
                "Content-Range", f"bytes {start}-{len(data)-1}/{len(data)}"
            )
        else:
            body = data
            self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


def test_download_resumes_with_range_server(tmp_path):
    payload = os.urandom(32 * 1024)
    (tmp_path / "data.bin").write_bytes(payload)
    handler = functools.partial(_RangeHandler, directory=str(tmp_path))
    httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{httpd.server_address[1]}/data.bin"
        dest = str(tmp_path / "out.bin")
        half = len(payload) // 2
        with open(dest + ".partial", "wb") as f:
            f.write(payload[:half])
        fetch.download_file(url, dest)
        assert open(dest, "rb").read() == payload
        assert _RangeHandler.seen_ranges == [half]  # truly ranged, not restarted
    finally:
        httpd.shutdown()


def test_download_checksum_mismatch(http_root, tmp_path):
    url, _, _ = http_root
    with pytest.raises(ValueError, match="Checksum mismatch"):
        fetch.download_file(
            f"{url}/data.bin", str(tmp_path / "x.bin"), checksum="0" * 64
        )


def test_retry_wrapper():
    calls = []

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise OSError("transient")
        return "ok"

    assert fetch.with_retries(flaky, num_retries=3, delay_sec=0) == "ok"
    assert len(calls) == 3
    with pytest.raises(OSError):
        fetch.with_retries(
            lambda: (_ for _ in ()).throw(OSError("always")), num_retries=1,
            delay_sec=0,
        )


def test_decompress_all_formats(tmp_path):
    content = b"hello kg" * 100
    # bz2
    p = tmp_path / "a.txt.bz2"
    p.write_bytes(bz2.compress(content))
    out = fetch.decompress(str(p))
    assert open(out, "rb").read() == content
    # tar.gz
    tgz = tmp_path / "b.tar.gz"
    with tarfile.open(tgz, "w:gz") as tf:
        data = io.BytesIO(content)
        info = tarfile.TarInfo("inner.txt")
        info.size = len(content)
        tf.addfile(info, data)
    d = fetch.decompress(str(tgz), str(tmp_path / "tgz_out"))
    assert open(os.path.join(d, "inner.txt"), "rb").read() == content
    # zip
    zp = tmp_path / "c.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr("z.txt", content)
    d = fetch.decompress(str(zp), str(tmp_path / "zip_out"))
    assert open(os.path.join(d, "z.txt"), "rb").read() == content
    with pytest.raises(ValueError, match="Unsupported"):
        fetch.decompress(str(tmp_path / "a.rar"))
