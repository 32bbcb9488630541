"""CLI mirroring the reference's go-trafilatura command
(cmd/go-trafilatura/main.go:52-121): extract one file or a directory of
HTML files, emit txt / json / html.

    python -m go_trafilatura_spark [flags] <file-or-dir>

Flags follow the reference: -f/--format, -l/--language, -u/--url,
--no-fallback, --no-comments, --no-tables, --images, --links,
--deduplicate, --precision, --recall, --prune-selector.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from . import etree
from .core import ExtractError, extract
from .options import BALANCED, FAVOR_PRECISION, FAVOR_RECALL, Options
from .utils import html_escape


def build_options(args) -> Options:
    focus = BALANCED
    if args.precision:
        focus = FAVOR_PRECISION
    elif args.recall:
        focus = FAVOR_RECALL
    return Options(
        original_url=args.url,
        target_language=args.language or "",
        enable_fallback=not args.no_fallback,
        focus=focus,
        exclude_comments=args.no_comments,
        exclude_tables=args.no_tables,
        include_images=args.images,
        include_links=args.links,
        deduplicate=args.deduplicate,
        prune_selector=args.prune_selector or "",
    )


def format_result(result, fmt: str) -> str:
    """output.go:45-118."""
    if fmt == "txt":
        text = result.content_text
        if result.comments_text:
            text = (text + " " if text else "") + result.comments_text
        return text + "\n" if text else ""
    if fmt == "json":
        m = result.metadata
        payload = {
            "contentHTML": etree.tostring(result.content_node),
            "contentText": result.content_text,
            "metadata": {
                "title": m.title, "author": m.author, "url": m.url,
                "hostname": m.hostname, "description": m.description,
                "sitename": m.sitename, "date": m.date,
                "categories": m.categories, "tags": m.tags,
                "license": m.license,
            },
        }
        if result.comments_node is not None:
            payload["commentsText"] = result.comments_text
            payload["commentsHTML"] = etree.tostring(result.comments_node)
        return json.dumps(payload, ensure_ascii=False)
    if fmt == "html":
        # helper.go:13-77 readable document
        m = result.metadata
        metas = "".join(
            f'<meta name="{k}" content="{html_escape(v)}"/>'
            for k, v in (
                ("title", m.title), ("author", m.author), ("url", m.url),
                ("hostname", m.hostname), ("description", m.description),
                ("sitename", m.sitename), ("date", m.date),
                ("categories", ", ".join(m.categories)),
                ("tags", "; ".join(m.tags)), ("license", m.license),
            )
        )
        content = etree.inner_html(result.content_node) if result.content_node is not None else ""
        comments = (
            f'<div id="comments-body">{etree.inner_html(result.comments_node)}</div>'
            if result.comments_node is not None
            else ""
        )
        return (
            f"<html><head>{metas}</head><body>"
            f'<div id="content-body">{content}</div>{comments}</body></html>\n'
        )
    raise ValueError(fmt)


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(prog="go_trafilatura_spark")
    parser.add_argument("source", help="HTML file or directory of *.html files")
    parser.add_argument("-f", "--format", choices=("txt", "json", "html"), default="txt")
    parser.add_argument("-l", "--language", default=None)
    parser.add_argument("-u", "--url", default=None)
    parser.add_argument("--no-fallback", action="store_true")
    parser.add_argument("--no-comments", action="store_true")
    parser.add_argument("--no-tables", action="store_true")
    parser.add_argument("--images", action="store_true")
    parser.add_argument("--links", action="store_true")
    parser.add_argument("--deduplicate", action="store_true")
    parser.add_argument("--precision", action="store_true")
    parser.add_argument("--recall", action="store_true")
    parser.add_argument("--prune-selector", default=None)
    args = parser.parse_args(argv)

    opts = build_options(args)

    paths: list[str]
    if os.path.isdir(args.source):
        paths = sorted(
            os.path.join(args.source, f)
            for f in os.listdir(args.source)
            if f.endswith((".html", ".htm"))
        )
    else:
        paths = [args.source]

    status = 0
    for path in paths:
        with open(path, "rb") as f:
            data = f.read()
        try:
            result = extract(data, opts)
        except ExtractError as e:
            print(f"{path}: rejected ({e.reason})", file=sys.stderr)
            status = 1
            continue
        if len(paths) > 1:
            print(f"==> {path}")
        sys.stdout.write(format_result(result, args.format))
    return status


if __name__ == "__main__":
    sys.exit(main())
