"""Layer A — the pure-NumPy extraction kernel (SURVEY.md §2.A, A1-A22).

No cv2/PIL: every imaging primitive is reimplemented from the public
algorithm definitions (OpenCV docs "Extract horizontal and vertical lines
by using morphological operations"; Otsu 1979; two-pass run-based
union-find labeling). One run extractor, ``imaging.runs``, serves both
the h/v line openings (a 1-D opening keeps whole runs of border-extended
length >= k) and the connected-components labeling. Every mask after
``to_gray`` (threshold output, line openings, joints, grid, the scan
router's ink raster) is a bool array with ink = True. All functions are
deterministic and operate on NumPy arrays; they are called only from
inside Arrow record batches (no per-row Python at the DataFrame layer).
"""

from .imaging import (  # noqa: F401
    adaptive_threshold,
    grid_mask,
    mask_intersect,
    morph_open_h,
    morph_open_v,
    otsu_threshold,
    to_gray,
)
from .components import connected_components, detect_cells, order_cells  # noqa: F401
from .extract import extract_turn, extract_batch, OUT_FIELDS  # noqa: F401
