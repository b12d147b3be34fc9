"""JSON / structured-content extraction (reference ``utils.py:134-163``).

The reference scans responses for ``` fenced blocks, trims to the first
``{``/``[`` and strips leading language tags before parsing.

Engine mapping (SURVEY.md §7.6): the fence scan is one
``regexp_extract`` — pure JVM expression work and oracle-checkable;
callers parse the payload with ``from_json``/``get_json_object``
(lenient JSON lives in ``functions/lenient_json.py``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# fenced block: ``` optional-language-tag ... ``` — capture the payload
# from the first '{' or '[' (utils.py:141-152 trims to the JSON start).
FENCE_PATTERN = r"```(?:json|html|css|python|javascript|xml)?\s*([\{\[].*?[\}\]])\s*```"


def extract_fenced_json(col: Column | str) -> Column:
    """First fenced JSON payload in the text, '' when none (strict path
    of split_content_and_json, utils.py:134-163)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, FENCE_PATTERN, 1)
