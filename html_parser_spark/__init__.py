"""html_parser_spark: a PySpark-native transcript extraction engine.

From-scratch re-implementation of the extraction capabilities of the
reference HTML-Parser (see SURVEY.md) as DataFrame operators over a
transcripts table ``(conv_id, turn_idx, role, text, tool, ts)``.
"""

import sys

if sys.version_info < (3, 13):
    from html_parser_spark import zipcache

    zipcache.install()

from html_parser_spark.config import (
    EXTRACT_CONFIG,
    TOKEPARSER_CONFIG,
    ParserConfig,
)

__all__ = ["ParserConfig", "TOKEPARSER_CONFIG", "EXTRACT_CONFIG"]
__version__ = "0.1.0"
