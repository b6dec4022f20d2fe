"""sparkotel benchmark (see LAYERS.md)."""
