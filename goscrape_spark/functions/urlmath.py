"""Offline link-rewrite math and output-path computation.

Pure-Python ports (golden-tested against the reference's fixture tables) of:

- ``resolveURL``            (scraper/url.go:10-65)   — C4
- ``urlRelativeToRoot``     (scraper/url.go:67-78)   — C5
- ``urlRelativeToOther``    (scraper/url.go:80-116)  — C6
- ``getPageFilePath``       (scraper/fileutil.go:58-79) — C7
- ``getFilePath``           (scraper/fileutil.go:25-53) — C8
- ``truncateFilename``      (scraper/fileutil.go:82-113) — C9/O3
- FNV-1a 32                 (scraper/fileutil.go:107-110) — C21
- srcset split / rewrite    (htmlindex/htmlindex.go:158-173,
                             scraper/html.go:153-165) — C10/C11

These run inside Arrow/pandas UDF batches on the rewrite path and driver-side
in the sequential simulator.  ``F.crc32``/``xxhash64`` cannot substitute for
FNV-1a: output file names must be byte-identical to the reference's.
"""

from __future__ import annotations

from .gopath import go_base, go_clean, go_dir, go_ext, go_join
from .urlnorm import GoURL, parse_url, resolve_reference

PAGE_EXTENSION = ".html"
PAGE_DIR_INDEX = "index" + PAGE_EXTENSION
MAX_FILENAME_LENGTH = 200


def fnv1a_32(data: bytes) -> int:
    """FNV-1a 32-bit hash (scraper/fileutil.go:107-110)."""
    h = 2166136261
    for b in data:
        h ^= b
        h = (h * 16777619) & 0xFFFFFFFF
    return h


def get_page_file_path(u: GoURL) -> str:
    """C7: page naming — index.html for roots/dirs, .html when extension-less
    (scraper/fileutil.go:58-79)."""
    file_name = u.path
    if file_name == "" or file_name == "/":
        file_name = PAGE_DIR_INDEX
    elif file_name.endswith("/"):
        file_name += PAGE_DIR_INDEX
    else:
        if go_ext(file_name) == "":
            file_name += PAGE_EXTENSION
    return file_name


def truncate_filename(filename: str) -> str:
    """C9/O3: >200-char name -> truncated + 8-hex FNV-1a suffix, extension
    preserved (scraper/fileutil.go:82-113)."""
    if len(filename) <= MAX_FILENAME_LENGTH:
        return filename
    ext = go_ext(filename)
    base_name = filename[: len(filename) - len(ext)] if ext else filename
    hash_length = 8
    reserved = hash_length + len(ext)
    if reserved > MAX_FILENAME_LENGTH:
        ext = ext[: MAX_FILENAME_LENGTH - hash_length]
        reserved = hash_length + len(ext)
    max_base = MAX_FILENAME_LENGTH - reserved
    if max_base <= 0:
        max_base = 1
    truncated = base_name[:max_base]
    hash_str = format(fnv1a_32(filename.encode("utf-8")), "08x")[:hash_length]
    return truncated + hash_str + ext


def get_file_path(u: GoURL, seed_host: str, output_dir: str, is_a_page: bool) -> str:
    """C8: output path ``outdir/<seed_host>/[_<ext_host>/]<file>``
    (scraper/fileutil.go:25-53)."""
    file_name = get_page_file_path(u) if is_a_page else u.path
    external_host = ""
    if u.host != seed_host:
        external_host = "_" + u.host
    d = go_dir(file_name)
    base = go_base(file_name)
    truncated = truncate_filename(base)
    if d == ".":
        file_name = truncated
    else:
        file_name = go_join(d, truncated)
    return go_join(output_dir, seed_host, external_host, file_name)


def url_relative_to_root(u: GoURL) -> str:
    """C5: '../' per non-empty non-final path segment (scraper/url.go:67-78)."""
    rel = []
    splits = u.path.split("/")
    for i, s in enumerate(splits):
        if len(s) > 0 and i < len(splits) - 1:
            rel.append("../")
    return "".join(rel)


def url_relative_to_other(src: GoURL, base: GoURL) -> str:
    """C6: relative path from base page's directory to src
    (scraper/url.go:80-116)."""
    src_splits = src.path.split("/")
    base_splits = get_page_file_path(base).split("/")

    while src_splits and base_splits:
        if src_splits[0] == "":
            src_splits = src_splits[1:]
            continue
        if base_splits[0] == "":
            base_splits = base_splits[1:]
            continue
        if src_splits[0] == base_splits[0]:
            src_splits = src_splits[1:]
            base_splits = base_splits[1:]
        else:
            break

    up = []
    for i, split in enumerate(base_splits):
        if split == "":
            continue
        if i == len(base_splits) - 1:
            break  # page filename is not a level
        up.append("../")
    return "".join(up) + go_join(*src_splits)


def resolve_url(base: GoURL, reference: str, main_page_host: str,
                is_hyperlink: bool, relative_to_root: str) -> str:
    """C4: the core offline-rewrite function (scraper/url.go:10-65).

    External hyperlink -> unchanged; external asset -> ``_<host>/<path>``;
    same-host -> path relative to the base page's directory; dir links get
    ``index.html``; fragment-after-slash gets ``index.html`` spliced in.
    """
    try:
        ur = parse_url(reference)
    except ValueError:
        return ""

    if ur.host != "" and ur.host != main_page_host:
        if is_hyperlink:
            return reference  # do not change links to external websites
        resolved = resolve_reference(base, ur)
        resolved = GoURL(scheme=resolved.scheme, host=resolved.host,
                         path=go_join("_" + ur.host, resolved.path),
                         query=resolved.query, fragment=resolved.fragment)
    else:
        if is_hyperlink:
            ur = GoURL(scheme=ur.scheme, host=ur.host,
                       path=get_page_file_path(ur), query=ur.query,
                       fragment=ur.fragment, opaque=ur.opaque)
            resolved = resolve_reference(base, ur)
        else:
            resolved = resolve_reference(base, ur)

    if resolved.host == main_page_host:
        resolved = GoURL(scheme=resolved.scheme, host=resolved.host,
                         path=url_relative_to_other(resolved, base),
                         query=resolved.query, fragment=resolved.fragment)
        relative_to_root = ""

    resolved = GoURL(scheme="", host="", path=resolved.path,
                     query=resolved.query, fragment=resolved.fragment,
                     opaque=resolved.opaque)
    out = resolved.string()

    if out == "":
        out = "/"  # website root
    else:
        if out[0] == "/" and len(relative_to_root) > 0:
            out = relative_to_root + out[1:]
        else:
            out = relative_to_root + out

    if is_hyperlink:
        if out[-1] == "/":
            out += PAGE_DIR_INDEX  # link dir index to index.html
        else:
            l = out.rfind("/")
            if l != -1 and l + 1 < len(out) and out[l + 1] == "#":
                out = out[: l + 1] + PAGE_DIR_INDEX + out[l + 1 :]

    if out.startswith("/"):
        out = out[1:]
    return out


def split_srcset(value: str) -> list[str]:
    """C10: srcset -> candidate URLs (htmlindex/htmlindex.go:158-173)."""
    out = []
    for v in value.split(","):
        v = v.strip()
        out.append(v.split(" ", 1)[0])
    return out


def resolve_srcset_urls(base: GoURL, srcset_value: str, main_page_host: str,
                        is_hyperlink: bool, relative_to_root: str) -> str:
    """C11: rewrite each srcset URL, preserving width descriptors, re-joined
    with ", " (scraper/html.go:153-165)."""
    values = []
    for value in srcset_value.split(","):
        value = value.strip()
        parts = value.split(" ")
        parts[0] = resolve_url(base, parts[0], main_page_host, is_hyperlink,
                               relative_to_root)
        values.append(" ".join(parts))
    return ", ".join(values)
