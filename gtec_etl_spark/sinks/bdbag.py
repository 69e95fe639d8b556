"""K4 BDBag-style packaging (make-crosscut-instance-bdbag.sh:139-148 in the
reference): a checksummed, reproducible archive of an exported dataset.

The reference shells out to bdbag; this is a dependency-free stdlib
implementation of the same observable artifact: a BagIt-shaped directory
(data/ payload, md5 + sha256 manifests, bagit.txt, bag-info.txt) packed
into a deterministic tar.gz (fixed mtimes/uids, sorted member order) so
repeated runs of the same payload are byte-identical — the property the
reference gets from its checksummed releases (SURVEY.md §5.5).

Scale note: this is a driver-side post-write step over files Spark already
wrote; the payload itself is produced distributed (write_tsv_dump /
write_documents) and only manifested here.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import os
import tarfile


def _iter_payload(payload_dir: str):
    for root, dirs, files in os.walk(payload_dir):
        dirs.sort()  # fix traversal order — readdir order varies by filesystem
        for name in sorted(files):
            full = os.path.join(root, name)
            rel = os.path.relpath(full, payload_dir)
            yield rel, full


def make_bag(
    payload_dir: str,
    bag_path: str,
    bag_info: dict[str, str] | None = None,
    remote_files: list[dict] | None = None,
) -> dict:
    """Package `payload_dir` as a deterministic BagIt tar.gz at `bag_path`.

    `remote_files` mirrors the reference's --remote-file-manifest input
    (make-crosscut-instance-bdbag.sh:147, remote-files.json:1-9): a list
    of {url, length, filename, md5, sha256} entries for payload files
    that are STAGED REMOTELY (cloud-held release artifacts). Each entry
    lands in fetch.txt as the BagIt `url length data/filename` line and
    its checksums join the payload manifests, so a holey bag can be
    completed (`bdbag --resolve-fetch`) and then validates exactly like
    a local one — without this a released bag referencing cloud payloads
    cannot be reproduced.

    Returns a summary dict (n_files incl. remote, payload_bytes local
    only, bag sha256)."""
    manifests = {"md5": [], "sha256": []}
    n_bytes = 0
    for rel, full in _iter_payload(payload_dir):
        h5, h256 = hashlib.md5(), hashlib.sha256()
        with open(full, "rb") as f:
            while chunk := f.read(1 << 20):
                h5.update(chunk)
                h256.update(chunk)
                n_bytes += len(chunk)
        manifests["md5"].append(f"{h5.hexdigest()}  data/{rel}")
        manifests["sha256"].append(f"{h256.hexdigest()}  data/{rel}")

    fetch_lines = []
    for rf in sorted(remote_files or [], key=lambda r: r["filename"]):
        path = f"data/{rf['filename']}"
        fetch_lines.append(f"{rf['url']}\t{int(rf['length'])}\t{path}")
        manifests["md5"].append(f"{rf['md5']}  {path}")
        manifests["sha256"].append(f"{rf['sha256']}  {path}")

    meta = {
        "bagit.txt": "BagIt-Version: 0.97\nTag-File-Character-Encoding: UTF-8\n",
        "bag-info.txt": "".join(
            f"{k}: {v}\n" for k, v in sorted((bag_info or {}).items())
        ),
        "manifest-md5.txt": "\n".join(manifests["md5"]) + "\n",
        "manifest-sha256.txt": "\n".join(manifests["sha256"]) + "\n",
    }
    if fetch_lines:
        meta["fetch.txt"] = "\n".join(fetch_lines) + "\n"

    def add_bytes(tar: tarfile.TarFile, name: str, data: bytes) -> None:
        info = tarfile.TarInfo(name)
        info.size = len(data)
        info.mtime = 0
        info.uid = info.gid = 0
        info.uname = info.gname = ""
        tar.addfile(info, io.BytesIO(data))

    # gzip with mtime=0, no FNAME header (filename='' — otherwise the
    # output path leaks into the header), and sorted tar members ==
    # byte-reproducible archive.
    with open(bag_path, "wb") as raw:
        with gzip.GzipFile(filename="", fileobj=raw, mode="wb", mtime=0) as gz:
            with tarfile.open(fileobj=gz, mode="w") as tar:
                for name in sorted(meta):
                    add_bytes(tar, f"bag/{name}", meta[name].encode())
                for rel, full in _iter_payload(payload_dir):
                    with open(full, "rb") as f:
                        add_bytes(tar, f"bag/data/{rel}", f.read())

    with open(bag_path, "rb") as f:
        bag_sha = hashlib.sha256(f.read()).hexdigest()
    return {
        "n_files": len(manifests["md5"]),
        "payload_bytes": n_bytes,
        "bag_sha256": bag_sha,
    }


_MANIFESTS = ("bag/manifest-md5.txt", "bag/manifest-sha256.txt")


def verify_bag(bag_path: str) -> bool:
    """BagIt-validate a bag archive, as the reference's bdbag tool does
    for the bags make_bag writes. bagit.txt must be present, the md5 and
    sha256 manifests must list the same paths, and the archive's payload
    must be exactly the listed paths that are not remote, each matching
    both digests. In a holey bag every fetch.txt line must be a
    well-formed `url<TAB>length<TAB>data/...` with a non-negative length,
    and its path must be manifested (else a fetched file could never
    validate) but absent from the archive (a path can't be both local and
    remote). Each member is read once, in archive order, hashing md5 and
    sha256 in the same pass."""
    tags: dict[str, bytes] = {}
    payload: dict[str, tuple[str, str]] = {}  # data/... -> (md5, sha256)
    with tarfile.open(bag_path, "r:gz") as tar:
        for member in tar:
            if not member.isfile():
                continue
            f = tar.extractfile(member)
            if member.name.startswith("bag/data/"):
                h5, h256 = hashlib.md5(), hashlib.sha256()
                while chunk := f.read(1 << 20):
                    h5.update(chunk)
                    h256.update(chunk)
                payload[member.name[4:]] = (h5.hexdigest(), h256.hexdigest())
            elif member.name in (*_MANIFESTS, "bag/fetch.txt", "bag/bagit.txt"):
                tags[member.name] = f.read()
    if "bag/bagit.txt" not in tags:
        return False
    try:  # KeyError: a manifest is missing; ValueError: undecodable or malformed
        md5s, sha256s = (
            dict(ln.split("  ", 1)[::-1] for ln in tags[m].decode().splitlines() if ln)
            for m in _MANIFESTS
        )
        fetch = tags.get("bag/fetch.txt", b"").decode().splitlines()
    except (KeyError, ValueError):
        return False
    if md5s.keys() != sha256s.keys():
        return False

    remote = set()
    for line in fetch:
        parts = line.split("\t")
        if len(parts) != 3:
            return False
        url, length, path = parts
        if not url or not path.startswith("data/"):
            return False
        if not length.isdigit():  # non-negative integer
            return False
        if path not in sha256s:  # unverifiable after fetch
            return False
        if path in payload:  # both local and remote
            return False
        remote.add(path)

    if payload.keys() != sha256s.keys() - remote:
        return False
    return all(payload[p] == (md5s[p], sha256s[p]) for p in payload)
