"""Output sinks: readable-HTML document, JSON record, plain text.

DataFrame-level equivalents of the reference's sinks
(helper.go:13-77 CreateReadableDocument; cmd/go-trafilatura/output.go:58-118
writeText/writeJSON/writeHTML) — expressed as JVM-side column
expressions (format_string / to_json) so the sink adds no Python stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .utils import HTML_ESCAPES

_META_FIELDS = (
    "title", "author", "url", "hostname", "description",
    "sitename", "date", "categories", "tags", "license",
)


def _esc(col: Column) -> Column:
    """Go html-escape for attribute values (& ' < > ")."""
    out = F.coalesce(col, F.lit(""))
    for raw, rep in HTML_ESCAPES:
        out = F.replace(out, F.lit(raw), F.lit(rep))
    return out


def readable_html(df: DataFrame, out_col: str = "readable_html") -> DataFrame:
    """helper.go:13-77 — one self-contained HTML document per row with
    <meta> head entries and content/comments divs."""
    metas = []
    for name in _META_FIELDS:
        if name == "url":
            col = _esc(F.col("meta_url"))
        elif name == "categories":
            col = _esc(F.array_join(F.coalesce(F.col("categories"), F.array()), ", "))
        elif name == "tags":
            col = _esc(F.array_join(F.coalesce(F.col("tags"), F.array()), "; "))
        else:
            col = _esc(F.col(name))
        metas.append(F.concat(F.lit(f'<meta name="{name}" content="'), col, F.lit('"/>')))

    head = F.concat(F.lit("<head>"), F.concat_ws("", F.array(*metas)), F.lit("</head>"))
    # content_html/comments_html are serialized <body>…</body>; rewrap as divs
    content = F.concat(
        F.lit('<div id="content-body">'),
        F.regexp_replace(
            F.regexp_replace(F.coalesce(F.col("content_html"), F.lit("")), "^<body>", ""),
            "</body>$", "",
        ),
        F.lit("</div>"),
    )
    comments = F.when(
        F.coalesce(F.col("comments_html"), F.lit("")) == "", F.lit("")
    ).otherwise(
        F.concat(
            F.lit('<div id="comments-body">'),
            F.regexp_replace(
                F.regexp_replace(F.col("comments_html"), "^<body>", ""), "</body>$", ""
            ),
            F.lit("</div>"),
        )
    )
    doc = F.concat(F.lit("<html>"), head, F.lit("<body>"), content, comments,
                   F.lit("</body></html>"))
    return df.withColumn(out_col, doc)


def json_output(df: DataFrame, out_col: str = "json_output") -> DataFrame:
    """output.go:77-118 — {contentHTML, contentText, metadata{...},
    comments*} as a JSON string column (built-in to_json)."""
    metadata = F.struct(
        F.col("title"), F.col("author"), F.col("meta_url").alias("url"),
        F.col("hostname"), F.col("description"), F.col("sitename"),
        F.col("date"), F.col("categories"), F.col("tags"), F.col("license"),
    )
    payload = F.struct(
        F.col("content_html").alias("contentHTML"),
        F.col("content_text").alias("contentText"),
        metadata.alias("metadata"),
        F.col("comments_text").alias("commentsText"),
        F.col("comments_html").alias("commentsHTML"),
    )
    return df.withColumn(out_col, F.to_json(payload))


def text_output(df: DataFrame, out_col: str = "text_output") -> DataFrame:
    """output.go:58-75 — content text (+ space + comments) + newline.

    NOTE: the reference CLI has an apparent bug here — when comments are
    present it writes ContentText twice (output.go:63-67) instead of
    appending CommentsText. We implement the evident intent (content +
    " " + comments), a documented deviation."""
    body = F.when(
        F.coalesce(F.col("comments_text"), F.lit("")) != "",
        F.concat_ws(" ", F.col("content_text"), F.col("comments_text")),
    ).otherwise(F.coalesce(F.col("content_text"), F.lit("")))
    return df.withColumn(
        out_col, F.when(body != "", F.concat(body, F.lit("\n"))).otherwise(F.lit(""))
    )
