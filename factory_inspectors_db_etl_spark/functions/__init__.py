from .text import (
    standardize_text_py,
    standardize_text,
    clean_number,
)

__all__ = [
    "standardize_text_py",
    "standardize_text",
    "clean_number",
]
