"""Streaming subsystem: the batch accumulator, a flush state machine on its
own epoch log."""
