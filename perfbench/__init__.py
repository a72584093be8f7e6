"""KG-construction benchmark (see README.md)."""
