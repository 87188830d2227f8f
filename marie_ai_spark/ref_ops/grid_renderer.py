"""Fixed-grid text rendering — the TextRenderer sink semantics.

Faithful reimplementation of the reference's grid math
(marie/renderer/text_renderer.py:28-143):

  - char cell 8.44 x 16 px; columns = ceil(page_width // 8.44)
  - x positions histogram-binned into columns:
    bins = linspace(0, width, cols).astype(int32);
    grid column of a word = digitize(x, bins, right=True)
  - per line, baseline = bbox.y + bbox.h; cell_y = baseline // 16;
    (delta_cell_y - 1) blank lines inserted between lines (start at cell 1)
  - words placed into a space-padded line buffer by STRING INSERTION at the
    grid column (later words shift right by the lengths of earlier
    insertions — a quirk of the reference implementation, reproduced
    exactly), trailing pad spaces retained
  - pages joined with \\f (text_renderer.py:158)

Blank-run collapse is NOT applied to grid output (that belongs to the
meta_to_text sink, S8), matching the reference's separation of the two
renderers.
"""

from __future__ import annotations

import numpy as np

CHAR_WIDTH = 8.44
CHAR_HEIGHT = 16


def render_grid_page(lines: list[dict], width: int) -> str:
    """Render one page's merged lines (from pdf_words_ops.merge_lines) into
    fixed-grid text. `width` is the page pixel width."""
    if not lines:
        return ""
    cols = int(width // CHAR_WIDTH)
    if cols < 2:
        return "\n".join(ln["text"] for ln in lines)
    bins = np.linspace(0, width, cols).astype(np.int32)
    max_chars = cols

    buffer = []
    start_cell_y = 1
    ordered = sorted(lines, key=lambda l: l["line"])
    for i, line in enumerate(ordered):
        x, y, w, h = line["bbox"]
        baseline = y + h
        cell_y = int(baseline // CHAR_HEIGHT)
        delta_cell_y = cell_y - start_cell_y
        start_cell_y = cell_y
        for _ in range(1, delta_cell_y):
            buffer.append("\n")

        line_buffer = " " * max_chars
        last_space = 0
        # words already in reading order (x-sorted == word_index order)
        for word in line["words"]:
            x2 = int(word["box"][0])
            grid_space = int(np.digitize(x2, bins, right=True))
            _ = grid_space - last_space
            last_space = grid_space
            line_buffer = (
                line_buffer[:grid_space] + word["text"] + line_buffer[grid_space:]
            )
        buffer.append(line_buffer)
        if i < len(ordered) - 1:
            buffer.append("\n")
    return "".join(buffer)

