"""Pure-pandas vectorized extraction kernels (no Spark imports — unit-testable).

  - ``pdf_text`` — char-event decode + sentence sessionization (main.py:404-490)
  - ``ocr``      — word-event decode + line grouping (main.py:634-735)
  - ``html``     — text-density boilerplate stripping (north_star; no reference code)
  - ``util``     — group codes, grouped cumsum and frame row-repeat primitives
"""

from . import html, ocr, pdf_text, util  # noqa: F401
