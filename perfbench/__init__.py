"""End-to-end and per-layer benchmark of the ``run`` path (see NOTES.md)."""
