"""The SQL front end's building blocks (``lex`` today)."""
